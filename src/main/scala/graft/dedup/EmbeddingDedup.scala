package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-cosine near-duplicate removal: block (coarse cell id or
  * random-hyperplane LSH bits), compare pairs only within blocks, cluster
  * above-threshold pairs, keep each cluster's min id.
  */
object EmbeddingDedup {

  /** Random-hyperplane LSH sign bits (seeded, deterministic): blocking key
    * for cosine similarity — near-identical vectors agree on all bits with
    * high probability.
    */
  def hyperplaneBits(dim: Int, nBits: Int, seed: Long = 42): Column => Column = {
    val rng = new java.util.Random(seed)
    val planes = Array.fill(nBits, dim)(rng.nextGaussian())
    val u = udf { (v: Seq[Float]) =>
      var key = 0L
      var b = 0
      while (b < nBits) {
        var dot = 0.0
        var i = 0
        val p = planes(b)
        while (i < math.min(dim, v.length)) { dot += p(i) * v(i); i += 1 }
        if (dot >= 0) key |= (1L << b)
        b += 1
      }
      key
    }
    c => u(c)
  }

  /** Dedup `df` keeping one row per cosine-cluster (≥ `threshold` within
    * `blockCol` blocks). Pass an existing cell column (e.g. an IVF label)
    * or pre-compute one with [[hyperplaneBits]]. Clustering goes through
    * [[Clustering]] — driver UnionFind for small edge lists, distributed
    * min-label propagation beyond `maxDriverEdges`.
    */
  def deduplicate(df: DataFrame, embCol: String, blockCol: String,
      threshold: Double,
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): DataFrame =
    Clustering.run(df, orderCol, maxDriverEdges)(
      verifiedEdges(_, embCol, blockCol, threshold))(_.keep(_))

  /** Above-threshold within-block cosine pairs — the verified edge list
    * feeding the clustering. Exposed for the keep-first invariant specs.
    */
  private[graft] def verifiedEdges(withId: DataFrame, embCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    import graft.similarity.Ann
    // norms once per row, NOT per pair (primitive kernel — the Column HOF
    // version is CodegenFallback, ~100× slower on the pair scan)
    val normed = withId.select(col(blockCol).as("blk"),
      col(Clustering.IdCol).as("nid"), col(embCol).as("e"),
      Ann.normFast(col(embCol)).as("nn"))
    val a = normed.select(col("blk"), col("nid").as("xid"),
      col("e").as("ea"), col("nn").as("na"))
    val b = normed.select(col("blk"), col("nid").as("yid"),
      col("e").as("eb"), col("nn").as("nb"))
    // ALL above-threshold pairs feed clustering (multi-edges are fine);
    // a per-node min-reduction would drop cross-links and over-keep vs
    // transitive clustering, and cost an extra shuffle
    a.join(b, Seq("blk"))
      .where(col("xid") < col("yid"))
      .where(Ann.dotFast(col("ea"), col("eb")) / (col("na") * col("nb"))
        >= threshold)
      .select(col("yid").as("__x__"), col("xid").as("__y__"))
  }
}
