package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Clustering, DedupMetrics, EmbeddingDedup, MinHashConfig, MinHashDedup, NgramJaccard, SimHash}

/** Semantic keep-first invariants for the dedup variants whose kept-id
  * goldens are self-pinned (simhash / embedding / ngram-jaccard): instead
  * of comparing against yesterday's output, these specs PROVE, from each
  * variant's own emitted edge list, that
  *
  *   (a) every emitted edge is verified-similar under an independent
  *       re-implementation of that variant's similarity kernel,
  *   (b) the kept set is exactly the component-min of those edges
  *       (keep-first over transitive clusters — no over-drop, no
  *       over-keep), via a spec-local union-find, and
  *   (c) where the blocking scheme guarantees completeness (simhash
  *       pigeonhole over all pairs; embedding within-block; identical
  *       texts for ngram LSH), every qualifying pair is in one cluster.
  *
  * A day-one semantic bug (wrong band math, wrong verify threshold,
  * wrong representative choice) now fails a proof, not a pin.
  */
class DedupInvariantSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def sf001 = "/root/testdata/sf0.001"

  /** Spec-local min-root union-find (independent of the production
    * ConnectedComponents): union by smaller root so each tree's root is
    * its component minimum.
    */
  /** Double-precision cosine, independent of the production float
    * kernels — shared by the embedding and semantic audits.
    */
  private def cosineD(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def unionRoots(ids: Seq[Long],
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    ids.map(i => i -> find(i)).toMap
  }

  /** Documents plus 20 re-ids'd copies of the head — guarantees the
    * corpus contains exact-duplicate clusters so keep/drop is exercised.
    */
  private def corpusWithDupes: DataFrame = {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text")
    docs.union(docs.orderBy("doc_id").limit(20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  test("simhash: edges valid, kept = component mins, pigeonhole complete") {
    val corpus = corpusWithDupes
    val withId = Clustering.assignId(corpus, Some("doc_id"))
    val edges = Clustering.withCacheRelease { sink =>
      SimHash.verifiedEdges(withId, "text", 3, sink)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val texts = corpus.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sigs = texts.map { case (id, t) => id -> SimHash.simhash64(t) }
    // (a) every edge is within the hamming budget, recomputed from scratch
    edges.foreach { case (x, y) =>
      val h = java.lang.Long.bitCount(sigs(x) ^ sigs(y))
      assert(h <= 3, s"edge ($x,$y) has hamming $h > 3")
    }
    // (b) keep-first exactness against a spec-local union-find
    val ids = texts.keys.toSeq
    val roots = unionRoots(ids, edges)
    val expected = ids.filter(i => roots(i) == i).toSet
    val kept = SimHash.deduplicate(corpus, "text", maxHamming = 3,
        orderCol = Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == expected,
      s"kept diff: extra=${kept -- expected}, missing=${expected -- kept}")
    // (c) pigeonhole banding is EXACT for hamming <= bands-1: every
    // qualifying pair anywhere in the corpus must share a cluster
    val arr = ids.toArray
    var i = 0
    while (i < arr.length) {
      var j = i + 1
      while (j < arr.length) {
        if (java.lang.Long.bitCount(sigs(arr(i)) ^ sigs(arr(j))) <= 3)
          assert(roots(arr(i)) == roots(arr(j)),
            s"similar pair (${arr(i)},${arr(j)}) not clustered")
        j += 1
      }
      i += 1
    }
  }

  test("ngram-jaccard: edges valid, kept = component mins, ident-text complete") {
    val n = 5
    val threshold = 0.7
    val corpus = corpusWithDupes
    val withId = Clustering.assignId(corpus, Some("doc_id"))
    val edges = Clustering.withCacheRelease { sink =>
      NgramJaccard
        .verifiedEdges(withId, "text", n, threshold, MinHashConfig(), sink)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val texts = corpus.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // (a) every edge passes the exact-Jaccard verify kernel
    edges.foreach { case (x, y) =>
      val j = NgramJaccard.jaccardDocs(texts(x), texts(y), n)
      assert(j >= threshold, s"edge ($x,$y) has jaccard $j < $threshold")
    }
    // (b) keep-first exactness
    val ids = texts.keys.toSeq
    val roots = unionRoots(ids, edges)
    val expected = ids.filter(i => roots(i) == i).toSet
    val kept = NgramJaccard.deduplicate(corpus, "text", n, threshold,
        orderCol = Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == expected,
      s"kept diff: extra=${kept -- expected}, missing=${expected -- kept}")
    // (c) identical shingleable texts share every band, so LSH finds them
    // deterministically: each duplicate-text class must be one cluster
    texts.groupBy(_._2).values
      .filter(g => g.size > 1 && NgramJaccard.gramSet(g.head._2, n).size > 0)
      .foreach { g =>
        val rs = g.keys.map(roots).toSet
        assert(rs.size == 1, s"identical-text class split: $g -> $rs")
      }
    // (d) LSH misses must be EXPLAINABLE, not structural: candidates are
    // star-shaped (member ↔ bucket-min), so a similar pair (x,y) sharing
    // a bucket still legitimately misses when either star leg to the
    // bucket minimum m fails exact verification (jac(x,m) < t or
    // jac(y,m) < t). What may NOT happen: both legs verify and the pair
    // is still split — that would be a clustering bug, not LSH
    // probability. Band signatures and bucket minima recomputed per doc.
    val (bBands, bRows) = graft.dedup.OptimalParam(threshold, 256)
    val bandSigs = texts.collect {
      case (id, t) if !NgramJaccard.gramSet(t, n).isEmpty =>
        id -> graft.dedup.MinHash
          .bandSignatures(t, 256, n, n, bBands, bRows)
          .map(_.toSeq)
    }
    val bucketMin = scala.collection.mutable.Map.empty[(Int, Seq[Byte]), Long]
    bandSigs.foreach { case (id, bs) =>
      bs.zipWithIndex.foreach { case (sig, band) =>
        val k = (band, sig)
        bucketMin(k) = math.min(bucketMin.getOrElse(k, Long.MaxValue), id)
      }
    }
    val idArr = bandSigs.keys.toArray
    var i = 0
    while (i < idArr.length) {
      var j = i + 1
      while (j < idArr.length) {
        val (x, y) = (idArr(i), idArr(j))
        if (roots(x) != roots(y) &&
            NgramJaccard.jaccardDocs(texts(x), texts(y), n) >= threshold) {
          val structural = bandSigs(x).zipWithIndex
            .zip(bandSigs(y)).exists { case ((sx, band), sy) =>
              sx == sy && {
                val m = bucketMin((band, sx))
                NgramJaccard.jaccardDocs(texts(x), texts(m), n) >= threshold &&
                  NgramJaccard.jaccardDocs(texts(y), texts(m), n) >= threshold
              }
            }
          assert(!structural,
            s"pair ($x,$y): similar, shares a bucket whose min verifies " +
              "against both, yet not clustered")
        }
        j += 1
      }
      i += 1
    }
  }

  test("deduplicateWithStats: one clustering pass == deduplicate + clusterSizeStats") {
    val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)
    val corpus = corpusWithDupes
    val (kept, stats) = MinHashDedup.deduplicateWithStats(
      corpus, "text", cfg, orderCol = Some("doc_id"))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val indepKept = MinHashDedup.deduplicate(
        corpus, "text", cfg, orderCol = Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == indepKept,
      s"kept diff: extra=${keptIds -- indepKept}, missing=${indepKept -- keptIds}")
    val hist = stats.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val indepHist = MinHashDedup.clusterSizeStats(
        corpus, "text", cfg, orderCol = Some("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == indepHist, s"histogram diff: $hist vs $indepHist")
    // cross-invariants tying the two outputs together: every cluster
    // keeps exactly one representative, and sizes add back to the corpus
    assert(hist.values.sum == keptIds.size.toLong)
    assert(hist.map { case (sz, n) => sz * n }.sum == corpus.count())
  }

  test("minhash classes: one rep per identical text or short class, each " +
      "signed as its own text, at minNgramSize 1, 2 and 3") {
    // the short class (< minNgramSize tokens) signs all-MAX_HASH, like
    // each of its members' own text; "\u0000" is two empty tokens, so it
    // is short only from minNgramSize 3 on and must not join the short
    // class below that
    import spark.implicits._
    val texts = Seq("alpha", "beta", "gamma delta", "\u0000", "",
      "the same words repeat here", "the same words repeat here",
      "a longer document with several words in it")
    val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val reps = Map(1 -> Set(0L, 1L, 2L, 3L, 4L, 5L, 7L),
      2 -> Set(0L, 2L, 3L, 5L, 7L), 3 -> Set(0L, 5L, 7L))
    reps.foreach { case (n, expectedReps) =>
      val cfg = MinHashConfig(ngramSize = n, minNgramSize = n)
      val (b, r) = graft.dedup.OptimalParam(cfg.threshold, cfg.numPerm)
      val bands = MinHashDedup.bandedFrame(corpus, "text", cfg,
          Some("doc_id")).collect().groupBy(_.getLong(0))
        .map { case (id, rows) => id -> rows.sortBy(_.getInt(1))
          .map(_.getAs[Array[Byte]](2).toSeq).toSeq }
      assert(bands.keySet === expectedReps, s"minNgramSize=$n")
      bands.foreach { case (id, got) =>
        val own = graft.dedup.MinHash.bandSignatures(texts(id.toInt),
          cfg.numPerm, n, n, b, r).map(_.toSeq).toSeq
        assert(got === own, s"minNgramSize=$n, doc $id")
      }
    }
  }

  test("deduplicateWeighted: kept set == hard dedup, weights conserve the corpus") {
    val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)
    val corpus = corpusWithDupes
    val weighted = MinHashDedup.deduplicateWeighted(
        corpus, "text", cfg, orderCol = Some("doc_id"))
      .select("doc_id", "weight").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hard = MinHashDedup.deduplicate(
        corpus, "text", cfg, orderCol = Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // soft dedup keeps exactly the hard-dedup representatives...
    assert(weighted.keySet == hard,
      s"extra=${weighted.keySet -- hard}, missing=${hard -- weighted.keySet}")
    // ...weights conserve the corpus, and duplication is really counted
    assert(weighted.values.sum == corpus.count())
    assert(weighted.values.exists(_ > 1L), "no cluster weight > 1")
    assert(weighted.values.forall(_ >= 1L))
    // and the public clusterRoots frame derives the same kept set as a
    // pure filter — the "one clustering, every consumer" surface
    val viaRoots = MinHashDedup.clusterRoots(
        corpus, "text", cfg, orderCol = Some("doc_id"))
      .where(col("id") === col("root"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaRoots == hard)
  }

  test("r20 driver-map tails: weighted + stats identical across " +
      "driver and distributed paths") {
    // the r20 optimization answers weights and the size histogram from
    // the driver-resident UnionFind map (zero shuffles) on the bounded
    // path; maxDriverEdges = 0 forces the distributed path over the SAME
    // corpus — outputs must be value-identical
    val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)
    val corpus = corpusWithDupes
    def wMap(maxE: Long) = MinHashDedup.deduplicateWeighted(
        corpus, "text", cfg, maxDriverEdges = maxE,
        orderCol = Some("doc_id"))
      .select("doc_id", "weight").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wDriver = wMap(10_000_000L)
    val wDist = wMap(0L)
    assert(wDriver == wDist,
      s"weighted path divergence: driver-only=${wDriver.toSet -- wDist.toSet}" +
        s" dist-only=${wDist.toSet -- wDriver.toSet}")
    def hMap(maxE: Long) = MinHashDedup.clusterSizeStats(
        corpus, "text", cfg, maxDriverEdges = maxE,
        orderCol = Some("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hDriver = hMap(10_000_000L)
    val hDist = hMap(0L)
    assert(hDriver == hDist, s"histogram divergence: $hDriver vs $hDist")
    // schema parity of the driver-path local frames with the
    // aggregate-form frames the distributed path still produces
    val sDriver = MinHashDedup.clusterSizeStats(
      corpus, "text", cfg, orderCol = Some("doc_id")).schema
    val sDist = MinHashDedup.clusterSizeStats(
      corpus, "text", cfg, maxDriverEdges = 0L,
      orderCol = Some("doc_id")).schema
    assert(sDriver.map(f => (f.name, f.dataType)) ==
      sDist.map(f => (f.name, f.dataType)))
    // weights conserve the corpus on both paths
    assert(wDriver.values.sum == corpus.count())
    assert(hDriver.map { case (s, n) => s * n }.sum == corpus.count())
  }

  test("flagship audited dedup: stats on, exactly ONE clustering executed") {
    // VERDICT r8 #5: the flagship config now sets audit_stats, so its
    // dedup gate must go through deduplicateWithStats — histogram logged
    // from the SAME clustering pass, not a second one. Counter delta
    // proves it: the flagship has ONE dedup'd column (response;
    // instruction_config has no deduplication block), so exactly one
    // clustering-path counter fires across the whole build+count.
    val before = DedupMetrics.emptyPath.get() + DedupMetrics.driverPath.get() +
      DedupMetrics.distributedPath.get()
    val kept = graft.chat.ChatPipeline.flagshipKept(spark, sf001)
    assert(kept.count() > 0)
    val after = DedupMetrics.emptyPath.get() + DedupMetrics.driverPath.get() +
      DedupMetrics.distributedPath.get()
    assert(after - before === 1L,
      s"expected exactly 1 clustering execution, got ${after - before}")
    // and the audit flag came from the YAML, not a default
    val cfg = graft.pipeline.MiniYaml.parse(
      graft.chat.ChatPipeline.FlagshipYaml)
    val resp = graft.pipeline.PipelineConfig.columnConfig(
      cfg("response_config").asInstanceOf[Map[String, Any]])
    assert(resp.dedupAudit)
  }

  test("embedding: edges valid, kept = component mins, within-block complete") {
    val threshold = 0.35
    val base = spark.read.parquet(s"$sf001/embeddings.parquet")
    val corpus = base.union(base.orderBy("vec_id").limit(20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
        col("label")))
    val withId = Clustering.assignId(corpus, Some("vec_id"))
    val edges = EmbeddingDedup
      .verifiedEdges(withId, "embedding", "label", threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rows = corpus.collect().map { r =>
      r.getLong(0) -> (r.getInt(2), r.getSeq[Float](1).toArray)
    }.toMap
    // (a) every edge is same-block and above threshold (small float
    // tolerance: the production kernel accumulates in a different order)
    edges.foreach { case (x, y) =>
      assert(rows(x)._1 == rows(y)._1, s"edge ($x,$y) crosses blocks")
      val c = cosineD(rows(x)._2, rows(y)._2)
      assert(c >= threshold - 1e-6, s"edge ($x,$y) cosine $c < $threshold")
    }
    // (b) keep-first exactness
    val ids = rows.keys.toSeq
    val roots = unionRoots(ids, edges)
    val expected = ids.filter(i => roots(i) == i).toSet
    val kept = EmbeddingDedup.deduplicate(corpus, "embedding", "label",
        threshold, orderCol = Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == expected,
      s"kept diff: extra=${kept -- expected}, missing=${expected -- kept}")
    // (c) blocking compares ALL within-block pairs: every same-block pair
    // clearly above threshold must be clustered
    ids.groupBy(i => rows(i)._1).values.foreach { blockIds =>
      val a = blockIds.toArray
      var i = 0
      while (i < a.length) {
        var j = i + 1
        while (j < a.length) {
          if (cosineD(rows(a(i))._2, rows(a(j))._2) >= threshold + 1e-6)
            assert(roots(a(i)) == roots(a(j)),
              s"similar within-block pair (${a(i)},${a(j)}) not clustered")
          j += 1
        }
        i += 1
      }
    }
  }

  test("semantic: edges within learned cells, kept = component mins") {
    import graft.dedup.SemDedup
    val threshold = 0.35
    val k = 16
    val base = spark.read.parquet(s"$sf001/embeddings.parquet")
    // planted duplicates: 20 exact copies under new ids must land in the
    // same learned cell as their originals and be dropped by keep-first
    val corpus = base.union(base.orderBy("vec_id").limit(20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
        col("label")))
    val withId = Clustering.assignId(corpus, Some("vec_id"))
    // ONE k-means training anchors every exact assertion below: centroid
    // averaging is a shuffled double sum whose partial-merge order is an
    // engine artifact (see the p12 oracle note), so independent retrains
    // can differ by an ulp and flip a boundary vector's cell — exact-set
    // checks must all derive from the same assignment, and the
    // end-to-end retraining path gets only ulp-robust assertions.
    val assigned = graft.similarity.Ann.kmeansAssign(withId, "embedding",
      Clustering.IdCol, SemDedup.CellCol, k)
    val cells = assigned
      .select(col("vec_id"), col(SemDedup.CellCol), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getSeq[Float](2).toArray))
      .toMap
    assert(cells.values.map(_._1).toSet.size > 1,
      "k-means degenerated to a single cell; blocking untested")
    // edges from the SAME assignment (the UDF is pure given its broadcast
    // centroids, so re-evaluation per join side is deterministic)
    def edgesDf = graft.dedup.EmbeddingDedup.verifiedEdges(
      assigned, "embedding", SemDedup.CellCol, threshold)
    val edges = edgesDf
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // (a) every edge joins two members of the SAME learned cell and its
    // cosine clears the threshold (double-precision re-verification)
    edges.foreach { case (x, y) =>
      assert(cells(x)._1 == cells(y)._1, s"edge ($x,$y) crosses cells")
      val c = cosineD(cells(x)._2, cells(y)._2)
      assert(c >= threshold - 1e-6, s"edge ($x,$y) cosine $c < $threshold")
    }
    // (b) keep-first exactness over those edges
    val ids = cells.keys.toSeq
    val roots = unionRoots(ids, edges)
    val expected = ids.filter(i => roots(i) == i).toSet
    val kept = Clustering.keepFirst(withId, edgesDf, 10000000L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == expected,
      s"kept diff: extra=${kept -- expected}, missing=${expected -- kept}")
    // end-to-end deduplicate RETRAINS internally; assert the ulp-robust
    // properties only: planted EXACT copies assign identically to their
    // originals under any centroid ulps (same input vector => same
    // argmax), so they must always be dropped, and the kept size is
    // bounded accordingly
    val e2e = SemDedup.deduplicate(corpus, "embedding", k, threshold,
        orderCol = Some("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids.filter(_ >= 1000000L).forall(!e2e.contains(_)),
      "a planted exact duplicate survived semantic dedup")
    assert(e2e.nonEmpty && e2e.size <= ids.size - 20)
    // (c) within-cell completeness: every clearly-similar same-cell pair
    // is clustered (blocking compares ALL pairs inside a cell)
    ids.groupBy(i => cells(i)._1).values.foreach { cellIds =>
      val a = cellIds.toArray
      var i = 0
      while (i < a.length) {
        var j = i + 1
        while (j < a.length) {
          if (cosineD(cells(a(i))._2, cells(a(j))._2) >= threshold + 1e-6)
            assert(roots(a(i)) == roots(a(j)),
              s"similar within-cell pair (${a(i)},${a(j)}) not clustered")
          j += 1
        }
        i += 1
      }
    }
  }
}
