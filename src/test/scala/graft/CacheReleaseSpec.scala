package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Clustering, EditDistanceDedup, MinHashConfig,
  MinHashDedup, NgramJaccard, SimHash}
import graft.pipeline.Runner

/** The cache-release proof promised as r13 #6's done-criterion (VERDICT
  * r14 what's-wrong #3 / next-round #5): a long-lived driver — the store
  * API's whole premise is a nightly session calling dedup over and over —
  * must not accumulate pinned caches across calls. The skew probe pins
  * |corpus|×bands frames; before r14 every call leaked one, and the
  * ADVICE r14 follow-up found the EditDistance/NgramJaccard entry points
  * still leaking after the minhash trunk was fixed. Those pins are now
  * lazy local checkpoints owned by the edge frames that read them, so
  * ContextCleaner frees them even when an edge builder is called
  * directly and nothing releases anything.
  *
  * The loop makes every call's plan UNIQUE (a per-round literal suffix):
  * Spark's CacheManager dedupes persist() by logical plan, so repeated
  * calls over an identical frame would share one cache entry and the
  * test would pass vacuously even with the leak present. With distinct
  * plans, an unreleased persist per call grows
  * `sparkContext.getPersistentRDDs` linearly (~50 entries over the run);
  * the assertion pins post-loop size to baseline + slack. ContextCleaner
  * reaps dropped localCheckpoint blocks asynchronously, so the final
  * measurement retries over gc cycles instead of reading once.
  */
class CacheReleaseSpec extends AnyFunSuite with SharedSession {

  private val Cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)
  private val Probed = Cfg.copy(skewProbe = true)

  /** ~100 docs, a templated class + unique tails — enough shape that
    * banding produces real buckets without slowing 50 rounds. */
  private def corpus(round: Int): DataFrame = {
    import spark.implicits._
    (0 until 100).map { i =>
      val t =
        if (i % 7 == 0)
          s"the shared templated boilerplate paragraph variant ${i % 3} " +
            "repeats across many crawled documents in this corpus"
        else
          s"unique document number $i talks about partitions joins and " +
            s"shuffles with variable content ${i * 31 + 7}"
      // the round suffix makes every call's logical plan distinct —
      // see the class comment; CacheManager must not be able to alias
      // this round's persists to a previous round's
      (i.toLong, s"$t round $round")
    }.toDF("doc_id", "text")
  }

  private def persistedCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  /** Post-loop size with gc-retry: ContextCleaner releases dropped
    * localCheckpoint/cache blocks asynchronously after GC. */
  private def settledCount(atMost: Int, deadlineMs: Long = 20000): Int = {
    val t0 = System.currentTimeMillis()
    var n = persistedCount
    while (n > atMost && System.currentTimeMillis() - t0 < deadlineMs) {
      System.gc()
      Thread.sleep(500)
      n = persistedCount
    }
    n
  }

  /** Settle to a stable floor instead of a fixed target (ADVICE r15:
    * the baseline step used atMost = 0, which the intentionally
    * persisted store makes unreachable — it burned the full deadline
    * on ~40 gc cycles). Stops once two consecutive readings stop
    * decreasing. */
  private def settledFloor(deadlineMs: Long = 20000): Int = {
    val t0 = System.currentTimeMillis()
    var prev = persistedCount
    var floor = prev
    var stable = 0
    while (stable < 2 && System.currentTimeMillis() - t0 < deadlineMs) {
      System.gc()
      Thread.sleep(500)
      val n = persistedCount
      if (n >= prev) stable += 1 else stable = 0
      prev = n
      // baseline = the MINIMUM seen: a transient re-pin during the
      // settle must not inflate the floor the leak bound measures from
      floor = math.min(floor, n)
    }
    floor
  }

  test("50 dedup calls (minhash skew probe, store increments, " +
      "edit-distance, ngram-jaccard, simhash) leave getPersistentRDDs " +
      "bounded (VERDICT r14 #5 / ADVICE r14)") {
    // a persisted store frame, built once — the nightly session shape
    val store = MinHashDedup.compactJournal(
      MinHashDedup.bandedJournal(corpus(-1), "text", Cfg,
        orderCol = Some("doc_id"))).persist()
    assert(store.count() > 0)

    def call(i: Int): Long = (i % 8) match {
      case 0 => // the probe pins the banded frame (flat → window)
        MinHashDedup.deduplicate(corpus(i), "text", Probed,
          orderCol = Some("doc_id")).count()
      case 1 => // plain window: no probe, no pin beyond the corpus
        MinHashDedup.deduplicate(corpus(i), "text", Cfg,
          orderCol = Some("doc_id")).count()
      case 2 => // eager store-increment path (localCheckpoint + release)
        MinHashDedup.deduplicateAgainstStore(corpus(i), store, "text",
          Cfg, orderCol = Some("doc_id")).count()
      case 3 => // ADVICE r14: edit-distance entry point now releases too
        EditDistanceDedup.deduplicate(corpus(i), "text", n = 3,
          threshold = 0.6, cfg = Probed,
          orderCol = Some("doc_id")).count()
      case 4 => // ADVICE r14: ngram-jaccard entry point now releases too
        NgramJaccard.deduplicate(corpus(i), "text", n = 3,
          threshold = 0.5, cfg = Probed,
          orderCol = Some("doc_id")).count()
      case 5 => // hamming family: bounded-guard frontier pins
        SimHash.deduplicate(corpus(i), "text", maxHamming = 3,
          orderCol = Some("doc_id")).count()
      case 6 => // an edge builder alone: the probe's pin, no caller
        MinHashDedup.candidateEdges(
          Clustering.withIds(corpus(i), Some("doc_id")), "text", Probed)
          .count()
      case _ => // an edge builder alone: the frontier pins, no caller
        SimHash.verifiedEdgesFromSigs(corpus(i).select(
          col("doc_id").as("id"), SimHash.signature(col("text")).as("sig")),
          3).count()
    }

    (0 until 8).foreach(call) // warmup: steady-state pins settle
    val baseline = settledFloor() // just settle, record floor
    (8 until 50).foreach(call)
    // 42 varied-plan calls after baseline: a per-call leak adds ≥ 1
    // entry per call (≈ +42); bounded means a small constant of
    // still-referenced frames (the store + cleaner stragglers)
    val after = settledCount(atMost = baseline + 8)
    assert(after <= baseline + 8,
      s"pinned caches grew $baseline -> $after over 42 calls — " +
        "a dedup entry point is leaking persisted frames")
    store.unpersist()
  }

  test("distributed clustering (maxDriverEdges = 0) leaves no roots " +
      "frame pinned across deduplicate / weighted / clusterSizeStats calls") {
    // every call takes the min-label path, whose converged (id, root)
    // frame the lazy outputs read; a frame left persisted per call grows
    // getPersistentRDDs by one per call (≈ +18 below, over the +8 slack)
    def call(i: Int): Long = (i % 3) match {
      case 0 => MinHashDedup.deduplicate(corpus(i), "text", Cfg,
        maxDriverEdges = 0L, orderCol = Some("doc_id")).count()
      case 1 => MinHashDedup.deduplicateWeighted(corpus(i), "text", Cfg,
        maxDriverEdges = 0L, orderCol = Some("doc_id")).count()
      case _ => MinHashDedup.clusterSizeStats(corpus(i), "text", Cfg,
        maxDriverEdges = 0L, orderCol = Some("doc_id")).count()
    }

    (0 until 3).foreach(call) // warmup
    val baseline = settledFloor()
    (3 until 21).foreach(call)
    val after = settledCount(atMost = baseline + 8)
    assert(after <= baseline + 8,
      s"pinned caches grew $baseline -> $after over 18 distributed-path " +
        "calls — the min-label roots frame is leaking")
  }

  /** A one-dataset chat config for `Runner.run` whose response pass
    * deduplicates in physical row order (no `dedupOrderCol`), over this
    * round's corpus as the trained responses.
    */
  private def runnerConfig(round: Int): String = {
    val dir = tmp(s"cache_release_runner/$round")
    def msg(content: Column, train: Boolean, role: String) =
      struct(content.as("content"), lit(train).as("do_train"),
        lit(role).as("role"))
    corpus(round).select(array(
        msg(lit("please tell me something about data pipelines"), false,
          "User"),
        msg(col("text"), true, "Assistant")).as("conversation"))
      .write.mode("overwrite").parquet(s"$dir/ds")
    val path = java.nio.file.Paths.get(s"$dir/config.yaml")
    java.nio.file.Files.writeString(path,
      s"""datasets:
         |  - dataset_path: "$dir/ds"
         |output_dataset_path: "chatml"
         |instruction_config:
         |response_config:
         |  deduplication:
         |    do_deduplication: true
         |    args:
         |      ngram_size: 3
         |      min_ngram_size: 3
         |""".stripMargin)
    path.toString
  }

  test("dropped outputs of row-order and held-pin dedup calls leave " +
      "getPersistentRDDs at its floor") {
    // every call here holds its corpus pin for the lazy output: no
    // `orderCol` (synthetic ids), a two-consumer API, or the union-tagged
    // incremental order. A pin the session caches for good grows
    // getPersistentRDDs by one per call (+21 below, over the +8 slack);
    // a pin the output owns is freed once the output is dropped
    def call(i: Int): Long = (i % 7) match {
      case 0 => MinHashDedup.deduplicate(corpus(i), "text", Cfg).count()
      case 1 => MinHashDedup.deduplicateWithStats(corpus(i), "text", Cfg)
        ._1.count()
      case 2 => MinHashDedup.deduplicateWithStats(corpus(i), "text", Cfg,
        orderCol = Some("doc_id"))._1.count()
      case 3 => MinHashDedup.clusterRoots(corpus(i), "text", Cfg).count()
      case 4 => MinHashDedup.deduplicateWeighted(corpus(i), "text", Cfg)
        .count()
      case 5 => MinHashDedup.deduplicateAgainst(corpus(i),
        corpus(i + 1000), "text", Cfg).count()
      case _ => Runner.run(spark, runnerConfig(i),
        tmp(s"cache_release_runner/$i/out")).count()
    }

    (0 until 7).foreach(call) // warmup
    val baseline = settledFloor()
    (7 until 28).foreach(call)
    val after = settledCount(atMost = baseline + 8)
    assert(after <= baseline + 8,
      s"pinned caches grew $baseline -> $after over 21 calls whose " +
        "outputs were dropped — a corpus pin outlives its output")
  }

  test("a held corpus pin belongs to its output: a later call over the " +
      "same frame neither drops nor shares it") {
    // the corpus is read through a counting identity UDF: a kept frame
    // that reads its own pin never runs it again, one that lost its pin
    // re-derives the corpus — under `orderCol = None` with fresh
    // monotonically_increasing_id values behind an already-built root
    // map. Spark's cache is keyed by plan, so a persist()-ed pin would be
    // shared by every call over the same frame, and a later call's
    // release would drop an earlier call's pin.
    val path = tmp("cache_release_alias")
    corpus(0).write.mode("overwrite").parquet(path)
    val reads = spark.sparkContext.longAccumulator("corpus reads")
    val tap = udf { (t: String) => reads.add(1); t }
    val docs = spark.read.parquet(path).withColumn("text", tap(col("text")))

    def check(orderCol: Option[String])(later: => Unit): Unit = {
      val (kept, stats) = MinHashDedup.deduplicateWithStats(docs, "text",
        Cfg, orderCol = orderCol)
      assert(stats.collect().nonEmpty)
      val rows = kept.collect().toSet
      later
      val before = reads.value
      assert(kept.collect().toSet === rows)
      assert(reads.value === before,
        s"orderCol = $orderCol: the kept frame re-derived its corpus " +
          "after a later call over the same frame")
    }
    check(None)(MinHashDedup.clusterSizeStats(docs, "text", Cfg).collect())
    check(Some("doc_id"))(SimHash.deduplicate(docs, "text",
      orderCol = Some("doc_id")).count())
  }
}
