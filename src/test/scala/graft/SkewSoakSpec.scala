package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Clustering, MinHash, MinHashConfig, MinHashDedup}

/** Hot-bucket routing equivalence (VERDICT r11 #1): on a Zipf-template
  * skewed corpus — near- but not exact-identical boilerplate, the shape
  * that floods one (band, bsig) bucket per band — `skewProbe` must
  * produce EXACTLY the plain window's kept set and cluster roots, and
  * the agg-join bucket-min it routes deep frames to must emit exactly
  * the plain window's edge frame.
  */
class SkewSoakSpec extends AnyFunSuite with SharedSession {

  private val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)
  private val probed = cfg.copy(skewProbe = true)

  test("skewProbe == plain window: kept set and roots on a " +
      "Zipf-template corpus") {
    // 2000 docs, 20 templates, exponent 1.5: hottest class ~740 docs of
    // near-identical boilerplate — deep hot buckets at spec scale
    val docs = ScaleGen.zipfTemplateDocs(spark, 2000L, 20, 1.5).persist()
    val hottest = docs.groupBy("template").count()
      .orderBy(col("count").desc).limit(1).collect()(0).getLong(1)
    assert(hottest > 500L, s"corpus not skewed enough ($hottest)")

    def kept(c: MinHashConfig): Set[Long] = MinHashDedup.deduplicate(docs,
      "text", c, orderCol = Some("doc_id")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val plainKept = kept(cfg)
    assert(kept(probed) == plainKept)
    // dedup really collapsed the templates (one rep per template class
    // up to banding probability)
    assert(plainKept.size < 300, s"kept ${plainKept.size} of 2000")

    // cluster ROOTS equal too — stronger than the kept set: every row
    // maps to the same representative
    val plainRoots = MinHashDedup.clusterRoots(docs, "text", cfg,
      orderCol = Some("doc_id"))
    val probedRoots = MinHashDedup.clusterRoots(docs, "text", probed,
      orderCol = Some("doc_id"))
    assert(plainRoots.except(probedRoots).count() == 0L &&
      probedRoots.except(plainRoots).count() == 0L)
    docs.unpersist()
  }

  test("skewProbe reaches the jaccard and edit-distance candidate paths " +
      "(VERDICT r12 #3): probed kept sets equal plain") {
    val docs = ScaleGen.zipfTemplateDocs(spark, 800L, 10, 1.5).persist()
    def jac(c: MinHashConfig): Set[Long] =
      graft.dedup.NgramJaccard.deduplicate(docs, "text", n = 3,
        threshold = 0.7, c, orderCol = Some("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    def ed(c: MinHashConfig): Set[Long] =
      graft.dedup.EditDistanceDedup.deduplicate(docs, "text", n = 3,
        threshold = 0.8, c, orderCol = Some("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val (plainJac, plainEd) = (jac(cfg), ed(cfg))
    // the verified families really collapsed the templates
    assert(plainJac.size < 400 && plainEd.size < 400,
      s"jac=${plainJac.size} ed=${plainEd.size} of 800")
    assert(jac(probed) == plainJac, "jaccard diverged under skewProbe")
    assert(ed(probed) == plainEd, "editdist diverged under skewProbe")
    docs.unpersist()
  }

  test("skewProbe: probe picks plain below the depth threshold, the " +
      "agg-join variant above; probed kept set equals plain") {
    import MinHashConfig.SkewDepthThreshold
    // shallow frame: hottest bucket far below the crossover → plain
    val docs = ScaleGen.zipfTemplateDocs(spark, 500L, 5, 1.5).persist()
    val withId = Clustering.assignId(docs, Some("doc_id"))
    val (_, banded) = MinHashDedup.classEdgesAndBanded(withId, "text", cfg)
    assert(!MinHashDedup.probeSkewDeep(banded))
    // synthetic threshold-deep frame → skew handling engaged
    val deep = spark.range(SkewDepthThreshold)
      .select(lit(0).as("band"), lit(Array[Byte](1, 2)).as("bsig"),
        col("id"))
    assert(MinHashDedup.probeSkewDeep(deep))
    // empty frame degenerates safely
    assert(!MinHashDedup.probeSkewDeep(deep.where(lit(false))))
    // end-to-end: probed config keeps exactly the plain set
    val plainKept = MinHashDedup.deduplicate(docs, "text", cfg,
      orderCol = Some("doc_id")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val probedKept = MinHashDedup.deduplicate(docs, "text", probed,
      orderCol = Some("doc_id")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(probedKept == plainKept)
    docs.unpersist()
  }

  test("agg-join bucket-min emits EXACTLY the plain window's edge frame " +
      "(same member → bucket-min stars) on a skewed corpus") {
    val docs = ScaleGen.zipfTemplateDocs(spark, 600L, 6, 1.5).persist()
    val withId = Clustering.assignId(docs, Some("doc_id"))
    val (_, banded0) = MinHashDedup.classEdgesAndBanded(withId, "text", cfg)
    val banded = banded0.persist()
    val plain = MinHashDedup.bucketMinEdges(banded, skewProbe = false)
    val agg = MinHashDedup.bucketMinEdgesAgg(banded)
    assert(plain.except(agg).count() == 0L &&
      agg.except(plain).count() == 0L)
    assert(plain.count() == agg.count() && plain.count() > 0L)
    banded.unpersist(); docs.unpersist()
  }

  test("skewProbe computes each row's signatures once across the probe " +
      "and the edges, through deduplicate and deduplicateAgainstStore") {
    // the probe pins the banded frame and the edges must read that pin:
    // edges over the unpinned frame re-run the signature kernel, which
    // MinHash.sigCalls counts (local mode: executors share this JVM)
    val docs = ScaleGen.zipfTemplateDocs(spark, 500L, 5, 1.5).persist()
    val store = MinHashDedup.bandedStore(docs.where(col("doc_id") < 300),
      "text", cfg, orderCol = Some("doc_id")).persist()
    assert(store.count() > 0L)
    val batch = docs.where(col("doc_id") >= 300)
    def sigCalls(run: => Long): Long = {
      val before = MinHash.sigCalls.get()
      run
      MinHash.sigCalls.get() - before
    }
    def dedup(c: MinHashConfig): Long = sigCalls(MinHashDedup.deduplicate(
      docs, "text", c, orderCol = Some("doc_id")).count())
    val plain = dedup(cfg)
    assert(plain > 0L)
    assert(dedup(probed) == plain)

    // the store path pins its banded frame for the store join anyway;
    // the probe reads that pin instead of storing a second copy, so the
    // call leaves two pins at most: that frame and the survivors
    var newPins = 0
    def againstStore(c: MinHashConfig): Long = sigCalls {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val kept = MinHashDedup.deduplicateAgainstStore(batch, store, "text",
        c, orderCol = Some("doc_id"))
      newPins = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      kept.count()
    }
    val plainStore = againstStore(cfg)
    assert(plainStore > 0L)
    assert(againstStore(probed) == plainStore)
    assert(newPins <= 2, s"the probed store path left $newPins new pins")
    store.unpersist(); docs.unpersist()
  }
}
