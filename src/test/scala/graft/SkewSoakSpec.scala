package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Clustering, MinHashConfig, MinHashDedup}

/** Salted two-stage bucket-min equivalence (VERDICT r11 #1): on a
  * Zipf-template skewed corpus — near- but not exact-identical
  * boilerplate, the shape that floods one (band, bsig) bucket per band —
  * the `skewSalts` variant must produce EXACTLY the plain window's kept
  * set and cluster roots. The edge SETS legitimately differ (two-hop
  * member → salt-partial-min → bucket-min chains vs direct stars);
  * connectivity and component minima must not. PERF.md records the same
  * proof at 1M docs plus the timing table.
  */
class SkewSoakSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .getOrCreate()

  private val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)

  test("salted bucket-min == plain window: kept set, roots, edge " +
      "connectivity on a Zipf-template corpus") {
    // 2000 docs, 20 templates, exponent 1.5: hottest class ~740 docs of
    // near-identical boilerplate — deep hot buckets at spec scale
    val docs = ScaleGen.zipfTemplateDocs(spark, 2000L, 20, 1.5).persist()
    val hottest = docs.groupBy("template").count()
      .orderBy(col("count").desc).limit(1).collect()(0).getLong(1)
    assert(hottest > 500L, s"corpus not skewed enough ($hottest)")

    val plainKept = MinHashDedup.deduplicate(docs, "text", cfg,
      orderCol = Some("doc_id")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    for (salts <- Seq(2, 8, 32)) {
      val saltedKept = MinHashDedup.deduplicate(docs, "text",
        cfg.copy(skewSalts = salts), orderCol = Some("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(saltedKept == plainKept,
        s"salts=$salts: only-plain=${(plainKept -- saltedKept).take(5)} " +
          s"only-salted=${(saltedKept -- plainKept).take(5)}")
    }
    // dedup really collapsed the templates (one rep per template class
    // up to banding probability)
    assert(plainKept.size < 300, s"kept ${plainKept.size} of 2000")

    // cluster ROOTS equal too — stronger than the kept set: every row
    // maps to the same representative
    val plainRoots = MinHashDedup.clusterRoots(docs, "text", cfg,
      orderCol = Some("doc_id"))
    val saltedRoots = MinHashDedup.clusterRoots(docs, "text",
      cfg.copy(skewSalts = 8), orderCol = Some("doc_id"))
    assert(plainRoots.except(saltedRoots).count() == 0L &&
      saltedRoots.except(plainRoots).count() == 0L)
    docs.unpersist()
  }

  test("skewSalts reaches the jaccard and edit-distance candidate paths " +
      "(VERDICT r12 #3): salted kept sets equal plain") {
    val docs = ScaleGen.zipfTemplateDocs(spark, 800L, 10, 1.5).persist()
    val plainJac = graft.dedup.NgramJaccard.deduplicate(docs, "text",
      n = 3, threshold = 0.7, cfg, orderCol = Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plainEd = graft.dedup.EditDistanceDedup.deduplicate(docs, "text",
      n = 3, threshold = 0.8, cfg, orderCol = Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the verified families really collapsed the templates
    assert(plainJac.size < 400 && plainEd.size < 400,
      s"jac=${plainJac.size} ed=${plainEd.size} of 800")
    for (salts <- Seq(2, 8)) {
      val saltedJac = graft.dedup.NgramJaccard.deduplicate(docs, "text",
        n = 3, threshold = 0.7, cfg.copy(skewSalts = salts),
        orderCol = Some("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(saltedJac == plainJac, s"jaccard diverged at salts=$salts")
      val saltedEd = graft.dedup.EditDistanceDedup.deduplicate(docs,
        "text", n = 3, threshold = 0.8, cfg.copy(skewSalts = salts),
        orderCol = Some("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(saltedEd == plainEd, s"editdist diverged at salts=$salts")
    }
    docs.unpersist()
  }

  test("AutoSalts: probe picks plain below the depth threshold, the " +
      "agg-join variant above; auto kept set equals plain") {
    import graft.dedup.MinHashConfig.{AutoSalts, SkewDepthThreshold}
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
    deep.unpersist()
    // empty frame degenerates safely
    assert(!MinHashDedup.probeSkewDeep(deep.where(lit(false))))
    // end-to-end: auto config keeps exactly the plain set
    val plainKept = MinHashDedup.deduplicate(docs, "text", cfg,
      orderCol = Some("doc_id")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val autoKept = MinHashDedup.deduplicate(docs, "text",
      cfg.copy(skewSalts = AutoSalts), orderCol = Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(autoKept == plainKept)
    docs.unpersist()
  }

  test("agg-join bucket-min emits EXACTLY the plain window's edge frame " +
      "(same member → bucket-min stars) on a skewed corpus") {
    val docs = ScaleGen.zipfTemplateDocs(spark, 600L, 6, 1.5).persist()
    val withId = Clustering.assignId(docs, Some("doc_id"))
    val (_, banded0) = MinHashDedup.classEdgesAndBanded(withId, "text", cfg)
    val banded = banded0.persist()
    val plain = MinHashDedup.bucketMinEdges(banded)
    val agg = MinHashDedup.bucketMinEdgesAgg(banded)
    assert(plain.except(agg).count() == 0L &&
      agg.except(plain).count() == 0L)
    assert(plain.count() == agg.count() && plain.count() > 0L)
    banded.unpersist(); docs.unpersist()
  }

  test("salted edge set differs in shape but spans the same components; " +
      "salts > bucket depth and salts = corpus size degenerate safely") {
    val docs = ScaleGen.zipfTemplateDocs(spark, 300L, 3, 1.2).persist()
    val withId = Clustering.assignId(docs, Some("doc_id"))
    val (_, banded) = MinHashDedup.classEdgesAndBanded(withId, "text", cfg)
    val bandedP = banded.persist()
    val plain = MinHashDedup.bucketMinEdges(bandedP)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every salt count — including far above any bucket depth — yields
    // the same union-find roots as the plain stars
    val plainRoots = graft.dedup.ConnectedComponents.unionFindRoots(plain)
    for (salts <- Seq(2, 7, 1000)) {
      val salted = MinHashDedup.bucketMinEdgesSalted(bandedP, salts)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val saltedRoots =
        graft.dedup.ConnectedComponents.unionFindRoots(salted)
      val ids = banded.select("id").distinct()
        .collect().map(_.getLong(0))
      assert(ids.forall(i => plainRoots.getOrElse(i, i) ==
        saltedRoots.getOrElse(i, i)), s"salts=$salts roots diverged")
    }
    bandedP.unpersist(); docs.unpersist()
  }
}
