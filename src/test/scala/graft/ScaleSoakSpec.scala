package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Decon
import graft.dedup.{DedupMetrics, MinHashConfig, MinHashDedup}

/** Crossover-machinery equivalence (VERDICT r6 #1): the 100 TB fallback
  * branches — distributed min-label clustering above `maxDriverEdges`,
  * decon's broadcast→shuffle-join demotion above `maxBroadcastGrams` —
  * must produce EXACTLY the result of the small-scale paths they replace,
  * and must actually fire (DedupMetrics proves the branch was taken, not
  * silently skipped).
  */
class ScaleSoakSpec extends AnyFunSuite with SharedSession {

  private def docs = spark.read
    .parquet("/root/testdata/sf0.01/documents.parquet")

  test("distributed min-label clustering == driver UnionFind kept set") {
    val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)
    val driverKept = MinHashDedup
      .deduplicate(docs, "text", cfg, maxDriverEdges = 10_000_000L,
        orderCol = Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = DedupMetrics.distributedPath.get
    // maxDriverEdges = 1: any real edge list overflows → the probe
    // count-only path decides, rows never land on the driver, and
    // ConnectedComponents.distributed computes the roots
    val distKept = MinHashDedup
      .deduplicate(docs, "text", cfg, maxDriverEdges = 1L,
        orderCol = Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(DedupMetrics.distributedPath.get == before + 1,
      s"distributed branch did not fire (${DedupMetrics.snapshot})")
    assert(distKept == driverKept,
      s"kept sets differ: driver-only=${(driverKept -- distKept).take(5)} " +
        s"dist-only=${(distKept -- driverKept).take(5)}")
    assert(driverKept.nonEmpty && driverKept.size < 500)
  }

  test("decon shuffle-join fallback == broadcast path scores") {
    val corpus = docs.limit(200)
    val benchmark = docs.where(col("doc_id") % 7 === 0).limit(50)
      .select(col("doc_id").as("bid"), col("text"))
    def scores(maxBroadcast: Long) = Decon
      .overlapScore(corpus, benchmark.withColumnRenamed("bid", "doc_id"),
        "doc_id", "text", 3, maxBroadcastGrams = maxBroadcast)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    val viaBroadcast = scores(5_000_000L)
    val viaShuffle = scores(1L) // any real gram set overflows → no hint
    assert(viaBroadcast.sameElements(viaShuffle))
    assert(viaBroadcast.exists(_._3 > 0), "no overlap found — vacuous test")
  }

  test("clusterSizeStats: sizes partition the corpus; clusters == kept rows") {
    val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)
    val hist = MinHashDedup.clusterSizeStats(docs, "text", cfg,
      orderCol = Some("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val total = docs.count()
    assert(hist.map { case (sz, n) => sz * n }.sum == total,
      "cluster sizes must partition the corpus")
    val kept = MinHashDedup.deduplicate(docs, "text", cfg,
      orderCol = Some("doc_id")).count()
    assert(hist.map(_._2).sum == kept,
      "one representative kept per cluster")
    assert(hist.exists { case (sz, _) => sz > 1 }, "no duplicate clusters — vacuous")
    // and the histogram is identical through the distributed branch
    val histDist = MinHashDedup.clusterSizeStats(docs, "text", cfg,
      maxDriverEdges = 1L, orderCol = Some("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(histDist.sortBy(_._1).sameElements(hist.sortBy(_._1)))
  }

  test("deduplicateWithStats: identical outputs through the distributed branch") {
    // the combined one-pass API (r8) must hold the same kept-set and
    // histogram equality across the clustering crossover as the
    // independent paths do (its driver-path equality is proven by
    // DedupInvariantSpec; this is the 100 TB branch)
    val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)
    val (kept, stats) = MinHashDedup.deduplicateWithStats(
      docs, "text", cfg, orderCol = Some("doc_id"))
    val before = DedupMetrics.distributedPath.get
    val (keptD, statsD) = MinHashDedup.deduplicateWithStats(
      docs, "text", cfg, maxDriverEdges = 1L, orderCol = Some("doc_id"))
    assert(DedupMetrics.distributedPath.get == before + 1,
      s"distributed branch did not fire (${DedupMetrics.snapshot})")
    val a = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = keptD.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, s"kept sets differ across branches: " +
      s"driver-only=${(a -- b).take(5)} dist-only=${(b -- a).take(5)}")
    val h1 = stats.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val h2 = statsD.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(h1.sameElements(h2), "histograms differ across branches")
  }

  test("incremental dedup crossover: distributed branch preserves " +
    "reference-corpus immutability") {
    val ref = docs.where(col("doc_id") % 2 === 0)
    val newDf = docs.where(col("doc_id") % 2 === 1)
    val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)
    val small = MinHashDedup
      .deduplicateAgainst(newDf, ref, "text", cfg,
        maxDriverEdges = 10_000_000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dist = MinHashDedup
      .deduplicateAgainst(newDf, ref, "text", cfg, maxDriverEdges = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(small == dist)
    // survivors are new-side rows only
    assert(small.forall(_ % 2 == 1))
  }
}
