package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Clustering, SimHash}

/** Depth-bounded pigeonhole recursion ≡ the unguarded self-join
  * (VERDICT r12 #2): on templated signature clouds — many DISTINCT
  * near signatures the hamming-0 collapse cannot absorb, flooding the
  * (band, chunk) buckets — the bounded path must emit EXACTLY the
  * unbounded plan's verified pair set (dupes aside; clustering absorbs
  * them) and hence the same kept sets, at every maxHamming width shape
  * (bands=1 full-width chunk, bands=3 with an uncovered top bit,
  * bands=4 exact). PERF.md records the same proof at a 100k-deep class
  * plus the timing/pair-count table.
  */
class SimHashBoundedSpec extends AnyFunSuite with SharedSession {

  private def pairSet(edges: DataFrame): Set[(Long, Long)] =
    edges.distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The verified pair set at `cap`. */
  private def pairSet(sigs: DataFrame, k: Int, cap: Int): Set[(Long, Long)] =
    pairSet(SimHash.verifiedEdgesFromSigs(sigs, k, cap))

  test("bounded (cap 32, multi-level) == unbounded pair set on a " +
      "templated sig cloud; deep buckets genuinely present") {
    val sigs = ScaleGen.templateSigCloud(spark, 3000L,
      varyingBits = 24, flips = 4).persist()
    // the corpus really is the adversarial shape: distinct near sigs
    // whose deepest (band, chunk) bucket dwarfs the cap
    val reps = sigs.select("sig").distinct().count()
    assert(reps > 1000, s"only $reps distinct sigs")
    val plain = pairSet(sigs, 3, Int.MaxValue)
    assert(plain.nonEmpty)
    for (cap <- Seq(32, 256)) {
      val bounded = pairSet(sigs, 3, cap)
      assert(bounded == plain,
        s"cap=$cap: only-plain=${(plain -- bounded).take(5)} " +
          s"only-bounded=${(bounded -- plain).take(5)}")
    }
    sigs.unpersist()
  }

  test("pair-set equality at maxHamming 0, 1, 2 (bands=1 full-width, " +
      "bands=2, bands=3 with uncovered top bit)") {
    val sigs = ScaleGen.templateSigCloud(spark, 800L,
      varyingBits = 12, flips = 3).persist()
    for (k <- Seq(0, 1, 2)) {
      val plain = pairSet(sigs, k, Int.MaxValue)
      val bounded = pairSet(sigs, k, 16)
      assert(bounded == plain, s"maxHamming=$k diverged")
    }
    sigs.unpersist()
  }

  test("kept set through keepFirst: default bounded cap == unbounded " +
      "on a skewed sig corpus") {
    val base = ScaleGen.templateSigCloud(spark, 2000L,
      varyingBits = 20, flips = 4)
      .select(col("id").as(Clustering.IdCol), col("id").as("keep_id"),
        col("sig"))
      .persist()
    def kept(cap: Int): Set[Long] = Clustering.of(
        SimHash.verifiedEdgesFromSigs(
          base.select(col(Clustering.IdCol).as("id"), col("sig")), 3, cap),
        maxDriverEdges = 10_000_000L).keep(base)
      .select("keep_id").collect().map(_.getLong(0)).toSet
    val unbounded = kept(Int.MaxValue)
    assert(kept(SimHash.DefaultBucketCap) == unbounded)
    assert(kept(64) == unbounded)
    assert(unbounded.size < 2000) // something actually clustered
    base.unpersist()
  }

  test("flat-corpus probe short-circuit: no depth tagging in the plan " +
      "when no bucket exceeds the cap; deep control engages it " +
      "(VERDICT r14 what's-wrong #2)") {
    // 100 distinct small sigs: every row shares band 3's all-zero chunk
    // (high 16 bits), so the deepest (band, chunk) bucket is EXACTLY 100
    val sigs = spark.range(100).select(col("id"), col("id").as("sig"))
    val plain = pairSet(sigs, 3, Int.MaxValue)
    assert(plain.nonEmpty)
    // cap above the max depth: the level-0 probe must short-circuit —
    // same pair set, and the depth-tagging join provably absent from
    // the emitted plan (the __d__ count column never appears)
    val flat = SimHash.verifiedEdgesFromSigs(sigs, 3, 128)
    assert(pairSet(flat) == plain)
    assert(!flat.queryExecution.analyzed.toString.contains("__d__"),
      "flat corpus must take the probe short-circuit (no depth join)")
    // control: a bucket deeper than the cap must engage the tagged
    // recursion (the join on the per-bucket __d__ count reaches the
    // plan)
    val deep = SimHash.verifiedEdgesFromSigs(sigs, 3, 16)
    assert(pairSet(deep) == plain)
    assert(deep.queryExecution.analyzed.toString.contains("__d__"),
      "deep bucket must engage the depth-tagged recursion")
  }

  test("null sigs still survive and never cluster under the bounded path") {
    val df = spark.range(10).select(col("id"),
      when(col("id") < 5, lit(7L)).otherwise(lit(null)).as("sig"))
    // ids 0-4 share sig 7 → ident stars to 0; null rows produce nothing
    assert(pairSet(df, 3, 16) == Set((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)))
  }
}
