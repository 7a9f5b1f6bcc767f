package graft.sampling

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-independent dataset splitting and per-group
  * capping (beyond-reference: the corpus-management ops every pretraining
  * pipeline needs around the reference's filter/dedup core).
  *
  * Both operators key every decision off the md5 hex digest of a row's own
  * key — no RNG state, no global counters — so assignment is (a) a pure
  * projection for [[hashSplit]] (zero shuffle, stays inside whole-stage
  * codegen), and (b) stable under re-runs, repartitioning and incremental
  * appends: a row's split never changes when the corpus around it grows.
  * That stability is the property that matters when a 100 TB corpus is
  * rebuilt incrementally — train/test membership must not churn between
  * builds or leakage follows.
  */
object Splits {

  /** Split assignment by hex-prefix thresholds: the first 4 md5 hex chars
    * are uniform over [0, 65536); cumulative fractions map to 4-char
    * lowercase hex thresholds compared lexicographically (fixed-width hex
    * compare == numeric compare). Quantization error ≤ 1/65536 per
    * boundary. The same CASE chain is expressible verbatim in any SQL
    * engine with md5(), which is what makes the assignment auditable
    * outside Spark.
    */
  def hashSplit(key: Column, fractions: Seq[(String, Double)]): Column = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0),
      "fractions must be non-empty and positive")
    val total = fractions.map(_._2).sum
    val cum = fractions.map(_._2).scanLeft(0.0)(_ + _).tail.map(_ / total)
    val h = substring(md5(key.cast("string")), 1, 4)
    fractions.init.zip(cum.init).foldRight(lit(fractions.last._1): Column) {
      case (((name, _), c), acc) =>
        // Clamp to 65535: fp accumulation can push an intermediate cumulative
        // fraction to 1.0, and %04x of 65536 would render the 5-char "10000",
        // which sorts BELOW "ffff" lexicographically and misassigns every row.
        val bound = math.min(math.floor(c * 65536).toLong, 65535L)
        when(h < lit(f"$bound%04x"), lit(name)).otherwise(acc)
    }
  }

  /** Leakage-safe split: assign train/val/test by the row's DEDUP
    * CLUSTER root, not its own id, so near-duplicates can never
    * straddle a split boundary — the eval-leakage failure mode plain
    * [[hashSplit]] has on an undeduplicated (or deliberately
    * duplicate-retaining) corpus: a test document's near-copy sitting
    * in train. Composes the minhash clustering
    * ([[graft.dedup.MinHashDedup.clusterRoots]] — shared driver
    * UnionFind ↔ distributed min-label crossover, bounded edge probe)
    * with the hash-threshold assignment: every member of a cluster
    * hashes the SAME root, so whole clusters move between splits as a
    * unit, and singleton rows (the overwhelming majority) hash their
    * own id — identical to plain hashSplit. Assignment stays stable
    * under incremental rebuilds for rows whose cluster membership is
    * unchanged. Cost over hashSplit = exactly the dedup candidate
    * pass, which a corpus running dedup pays anyway — reuse its roots.
    *
    * Returns (idCol, root, split) for every input row.
    */
  def leakageSafeSplit(df: DataFrame, textCol: String, idCol: String,
      fractions: Seq[(String, Double)],
      cfg: graft.dedup.MinHashConfig = graft.dedup.MinHashConfig(),
      maxDriverEdges: Long = 10_000_000L): DataFrame =
    leakageSafeSplitFromRoots(
      graft.dedup.MinHashDedup.clusterRoots(df, textCol, cfg,
        maxDriverEdges, Some(idCol)), idCol, fractions)

  /** The assignment alone, over an EXISTING (id, root) frame — e.g. the
    * [[graft.dedup.MinHashDedup.clusterRoots]] of the dedup pass the
    * pipeline already ran. Pure projection: zero additional shuffles,
    * stays inside whole-stage codegen like [[hashSplit]].
    */
  def leakageSafeSplitFromRoots(roots: DataFrame, idCol: String,
      fractions: Seq[(String, Double)]): DataFrame =
    roots.select(col("id").as(idCol), col("root"),
      hashSplit(col("root"), fractions).as("split"))

  /** Cap each group at `k` rows, chosen deterministically by
    * md5-of-key order (ties broken by the key itself) — per-domain capping
    * a la C4/RefinedWeb without a seed. One hash shuffle + per-group sort,
    * the same cost any per-domain accounting already pays; partial
    * aggregation does not apply but the window never materializes a
    * group in memory (rank is streamed over the sorted run). For a
    * pathologically hot group, cap by thresholding the hash instead
    * (keep h < quantile-estimate) to avoid sorting the whole group —
    * the windowed form here is the exact one.
    */
  def capPerGroup(df: DataFrame, group: Column, key: Column, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(group).orderBy(md5(key.cast("string")), key)
    df.withColumn("__rn__", row_number().over(w))
      .where(col("__rn__") <= k)
      .drop("__rn__")
  }

  /** FineWeb-style per-group quality quota: keep the top ⌈frac·|group|⌉
    * rows of each group by (rank desc, tieBreak asc). ONE shuffle — the
    * rank window and the group-count window share the same partitioning,
    * so Catalyst plans a single exchange; rows stream through the sorted
    * run (no per-group array). The tie-break must be unique for a
    * deterministic kept set under any partitioning.
    */
  def topFractionPerGroup(df: DataFrame, group: Column, rank: Column,
      tieBreak: Column, frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, "frac must be in (0, 1]")
    val w = Window.partitionBy(group).orderBy(rank.desc, tieBreak)
    val wg = Window.partitionBy(group)
    df.withColumn("__rn__", row_number().over(w))
      .withColumn("__n__", count(lit(1)).over(wg))
      .where(col("__rn__") <= ceil(col("__n__") * lit(frac)))
      .drop("__rn__", "__n__")
  }
}
