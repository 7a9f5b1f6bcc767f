package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{MinHashConfig, MinHashDedup}
import graft.streaming.StreamingPipeline

/** Streaming near-dedup composed with the persisted banded store
  * (VERDICT r10 #5): the streamed kept set over N micro-batches must
  * equal the batch `deduplicateAgainstStore` + `mergeStores` fold chain
  * over the same increments, cross-batch kills must actually fire, and
  * the state the stream carries must be the bounded store frame — no
  * Spark streaming state store at all.
  */
class StreamingStoreDedupSpec extends AnyFunSuite with SharedSession {

  private val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra " +
    "tango uniform victor whiskey xray yankee zulu one two three four " +
    "five six seven eight nine ten"

  private val refRows = Seq(
    1L -> (base + " variant zero"),
    2L -> "completely different retained sentence about parquet readers and vectorized scans in the engine",
    3L -> "another retained row with its own words entirely unlike the rest of this corpus today")

  // batch 1: a ref copy (dies), a near-dup of ref (dies), a within-batch
  // dup pair (keep-first), fresh content (survives)
  private val batch1 = Seq(
    100L -> (base + " variant zero"),
    101L -> (base + " altered zero"),
    104L -> "fresh duplicated increment sentence with plenty of words to shingle over nicely today",
    105L -> "fresh duplicated increment sentence with plenty of words to shingle over nicely today",
    106L -> "genuinely novel increment content speaking of streams windows and watermarks never seen before")

  // batch 2: a copy of a BATCH-1 survivor (dies only if the fold-in
  // worked), a ref copy (dies), fresh content (survives)
  private val batch2 = Seq(
    200L -> "genuinely novel increment content speaking of streams windows and watermarks never seen before",
    201L -> (base + " variant zero"),
    202L -> "entirely new second wave content involving bloom filters sketches and hyperloglog registers")

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def ids(d: DataFrame): Set[Long] =
    d.select("doc_id").collect().map(_.getLong(0)).toSet

  test("streamed kept set == batch store-fold chain; cross-batch kills " +
      "fire; state is the bounded store only") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val store0 = MinHashDedup.bandedStore(df(refRows), "text", cfg,
      Some("doc_id"))
    val stamp = System.nanoTime()
    val outPath = tmp(s"stream_store_out_$stamp")
    val ckpt = tmp(s"stream_store_ckpt_$stamp")

    // ---- streamed path: two micro-batches through foreachBatch ----
    val dedup = new StreamingPipeline.StoreNearDedup(store0, "text", cfg,
      "doc_id")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingPipeline.foreachBatchStoreNearDedup(
      mem.toDF.toDF("doc_id", "text"), dedup, outPath, ckpt)
    try {
      mem.addData(batch1)
      q.processAllAvailable()
      mem.addData(batch2)
      q.processAllAvailable()
      // no stateful streaming operators: the ONLY state is the store
      val p = q.lastProgress
      assert(p == null || p.stateOperators.isEmpty,
        "foreachBatch composition must carry no streaming state store")
    } finally q.stop()
    val streamed = ids(spark.read.parquet(outPath))

    // ---- batch twin: same increments, same offsets, same fold-in ----
    var store = store0
    var offset = MinHashDedup.NewIdOffset
    val twinKept = Seq(batch1, batch2).map { rows =>
      val kept = MinHashDedup.deduplicateAgainstStore(df(rows), store,
        "text", cfg, orderCol = Some("doc_id"), newIdOffset = offset)
      val keptGlobal = kept.withColumn("__gid__",
        org.apache.spark.sql.functions.col("doc_id") +
          org.apache.spark.sql.functions.lit(offset))
      store = MinHashDedup.mergeStores(store,
        MinHashDedup.bandedStore(keptGlobal, "text", cfg, Some("__gid__")))
      offset += (1L << 40)
      ids(kept)
    }
    assert(streamed === twinKept.reduce(_ ++ _))

    // the semantics themselves, path by path
    assert(!streamed.contains(100L), "ref exact copy must die")
    assert(!streamed.contains(101L), "ref near-dup must die")
    assert(streamed.contains(104L) && !streamed.contains(105L),
      "within-batch keep-first")
    assert(streamed.contains(106L), "fresh batch-1 content survives")
    assert(!streamed.contains(200L),
      "copy of a batch-1 survivor must die — proves the fold-in fired")
    assert(!streamed.contains(201L), "ref copy in batch 2 must die")
    assert(streamed.contains(202L), "fresh batch-2 content survives")

    // bounded state: the carried store equals the batch twin's store
    // (one row per occupied bucket) and its lineage is CUT per batch —
    // a checkpoint scan, not a plan growing through every past batch
    val carried = dedup.currentStore
    assert(carried.count() ===
      store.groupBy("band", "bsig").count().count())
    assert(carried.queryExecution.executedPlan.toString
      .contains("ExistingRDD"),
      "store lineage must be cut (localCheckpoint) per batch")
  }

  test("hamming-family streaming twin: streamed image dedup == batch " +
      "sig-store fold chain; cross-batch kill fires") {
    import spark.implicits._
    import graft.dedup.SimHash
    import graft.multimodal.ImageHash
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def pgmOf(hash: Long, offset: Int): Array[Byte] =
      TestFixtures.pgmOf(hash, offset)
    val hA = 0x1212343456567878L
    val hNew = 0xFEDCBA9876543210L
    val ref = Seq(1L -> pgmOf(hA, 0)).toDF("doc_id", "img")
    val b1 = Seq(
      10L -> pgmOf(hA, 5),   // ham-0 copy of ref -> dies
      11L -> pgmOf(hNew, 0)) // fresh -> survives
    val b2 = Seq(
      20L -> pgmOf(hNew ^ (1L << 9), 2), // ham-1 of the b1 SURVIVOR -> dies
      21L -> pgmOf(0x0102030405060708L, 0)) // fresh -> survives
    val store0 = SimHash.sigStore(ref, "img", ImageHash.dhashUdf,
      Some("doc_id"))
    val stamp = System.nanoTime()
    val outPath = tmp(s"stream_sig_out_$stamp")
    val dedup = new StreamingPipeline.SigStoreNearDedup(store0, "img",
      ImageHash.dhashUdf, 3, "doc_id")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte])]
    val q = StreamingPipeline.foreachBatchSigStoreNearDedup(
      mem.toDF.toDF("doc_id", "img"), dedup, outPath,
      tmp(s"stream_sig_ckpt_$stamp"))
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = ids(spark.read.parquet(outPath))
    assert(streamed === Set(11L, 21L),
      "ham-0 ref copy and ham-1 copy of a folded-in survivor must die")
    // batch twin over the same increments and offsets
    var store = store0
    var offset = graft.dedup.MinHashDedup.NewIdOffset
    val twin = Seq(b1, b2).flatMap { rows =>
      val kept = SimHash.deduplicateAgainstSigStore(
        rows.toDF("doc_id", "img"), store, "img", ImageHash.dhashUdf,
        maxHamming = 3, orderCol = Some("doc_id"), newIdOffset = offset)
      store = SimHash.mergeSigStores(store, SimHash.sigStore(
        kept.select((org.apache.spark.sql.functions.col("doc_id") +
          org.apache.spark.sql.functions.lit(offset)).as("doc_id"),
          org.apache.spark.sql.functions.col("img")),
        "img", ImageHash.dhashUdf, Some("doc_id")))
      offset += (1L << 40)
      ids(kept)
    }.toSet
    assert(streamed === twin)
  }

  test("restart over a persisted store: resumeOffset keeps the " +
      "keep-first invariant across runs") {
    // run 1 retains batch-1 survivors at ids offset by 2^62; a NEW
    // process resuming over the published store must start its offsets
    // ABOVE every retained id, or keep-first would prefer new rows over
    // previously-retained ones (the silent cross-restart dup leak)
    val store0 = MinHashDedup.bandedStore(df(refRows), "text", cfg,
      Some("doc_id"))
    val run1 = new StreamingPipeline.StoreNearDedup(store0, "text", cfg,
      "doc_id")
    run1.processBatch(df(batch1))
    val published = run1.currentStore
    val off = StreamingPipeline.resumeOffset(published)
    assert(off > MinHashDedup.NewIdOffset,
      "resume offset must clear run 1's retained ids")
    assert(off % (1L << 40) === 0L)
    val run2 = new StreamingPipeline.StoreNearDedup(published, "text",
      cfg, "doc_id", initialOffset = off)
    val kept2 = ids(run2.processBatch(df(Seq(
      7L -> "genuinely novel increment content speaking of streams windows and watermarks never seen before", // copy of a run-1 survivor
      8L -> "entirely new second wave content involving bloom filters sketches and hyperloglog registers"))))
    assert(kept2 === Set(8L),
      "a copy of a run-1 survivor must die after a resume")
  }

  test("replay convergence: a re-delivered batch emits zero survivors") {
    // the foreachBatchStoreNearDedup doc's crash-recovery claim: if the
    // checkpoint re-delivers a batch AFTER its fold-in landed, every
    // re-delivered row is an exact copy of a folded-in survivor (or a
    // dup that died the first time and dies again), so the replay emits
    // nothing — re-processing is naturally convergent
    val store0 = MinHashDedup.bandedStore(df(refRows), "text", cfg,
      Some("doc_id"))
    val dedup = new StreamingPipeline.StoreNearDedup(store0, "text", cfg,
      "doc_id")
    val first = ids(dedup.processBatch(df(batch1)))
    assert(first === Set(104L, 106L), "baseline: batch 1 keeps its fresh rows")
    val replay = ids(dedup.processBatch(df(batch1)))
    assert(replay === Set.empty,
      s"re-delivered batch must emit zero survivors, got $replay")
  }
}
