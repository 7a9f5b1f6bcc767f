package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{MinHashConfig, MinHashDedup, SimHash}
import graft.streaming.StreamingPipeline

/** Takedown in a CONTINUOUSLY-RUNNING pipeline (r15): the streaming
  * store is bucket-min — lossy for retention — so a takedown-capable
  * stream journals each batch's survivors next to the survivor sink
  * (`journalPath` / `journalBatch`). A takedown is then
  * stop → delete+compact over refJournal ∪ appended batches → resume
  * over the compacted store at `resumeOffset`. This spec drives the
  * whole cycle end-to-end: stream run 1 (real foreachBatch wiring with
  * the journal append) → takedown deleting a retained bucket-min id, a
  * whole retained class, AND a streamed survivor → resumed run 2 where
  * promotion (copy still dies), emptying (deleted class re-ingestable),
  * and streamed-survivor deletion (its content re-ingestable) all fire
  * — and the resumed kept set equals an independent recompute against
  * the physically retained corpus.
  */
class StreamingRetentionSpec extends AnyFunSuite with SharedSession {

  private val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra " +
    "tango uniform victor whiskey xray yankee zulu one two three four"

  private val gone = "this whole retained content class is subject to a " +
    "takedown request and must become re-ingestable after the journal " +
    "compaction runs across the stream restart"

  private val fresh = "fresh streamed survivor content about watermarks " +
    "state stores and session windows that later also gets taken down"

  // rows 1 & 2: a near-dup class (1 is its keep-first min); row 3: the
  // class deleted whole
  private val refRows = Seq(
    1L -> (base + " variant zero"),
    2L -> (base + " variant one"),
    3L -> gone)

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def ids(d: DataFrame): Set[Long] =
    d.select("doc_id").collect().map(_.getLong(0)).toSet

  test("stream → takedown (bucket-min + whole class + streamed " +
      "survivor) → resume: promotion, emptying, and re-ingestability " +
      "all fire; resumed kept set == recompute on the retained corpus") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val refJournal = MinHashDedup.bandedJournal(df(refRows), "text", cfg,
      Some("doc_id"))
    val store0 = MinHashDedup.compactJournal(refJournal)
    val stamp = System.nanoTime()
    val outPath = tmp(s"stream_ret_out_$stamp")
    val jPath = tmp(s"stream_ret_journal_$stamp")
    val ckpt = tmp(s"stream_ret_ckpt_$stamp")

    // ---- run 1: real stream wiring, journal append enabled ----
    val batch1 = Seq(
      100L -> fresh,                  // survives, lands in the journal
      101L -> (base + " variant zero"), // retained copy — dies
      102L -> gone)                   // retained copy — dies
    val dedup1 = new StreamingPipeline.StoreNearDedup(store0, "text", cfg,
      "doc_id")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingPipeline.foreachBatchStoreNearDedup(
      mem.toDF.toDF("doc_id", "text"), dedup1, outPath, ckpt,
      journalPath = Some(jPath))
    val sigCallsBefore = graft.dedup.MinHash.sigCalls.get()
    try {
      mem.addData(batch1)
      q.processAllAvailable()
    } finally q.stop()
    // VERDICT r15 #1 (de-tripled journaling batch): with journalPath on,
    // the batch pays the signature kernel ONCE per row — |batch| rows
    // signatured by the dedup pass + |kept| by the journal append whose
    // persisted frame the store fold compacts. The old wiring's storeOf
    // re-signatured the kept rows a second time (+|kept| more).
    // UPPER bound, not exact equality (ADVICE r16): the per-JVM counter
    // would inflate under a Spark task retry or cache eviction of the
    // persisted journal; <= still catches the old double/triple
    // signaturing regression, which added 2×|kept| extra calls. (Today
    // sbt's forked test JVM runs suites sequentially over tiny data, so
    // the bound is in practice exact.)
    assert(graft.dedup.MinHash.sigCalls.get() - sigCallsBefore <=
      batch1.size + 1L,
      "journaling batch must share one signature pass between the " +
        "journal append and the store fold")
    assert(ids(spark.read.parquet(outPath)) === Set(100L))
    val streamJournal = spark.read.parquet(jPath)
    // the journal carries the survivor under its GLOBAL id
    assert(streamJournal.select("id").distinct().collect()
      .map(_.getLong(0)).toSet === Set((1L << 62) + 100L))
    // store ≡ compact(journal) THROUGH the real wiring (VERDICT r15 #2
    // done-criterion): the carried store after the journaling fold is
    // exactly the compaction of everything journaled so far
    def storeSet(s: DataFrame): Set[(Int, Seq[Byte], Long)] =
      s.collect().map(r => (r.getInt(0),
        r.getAs[Array[Byte]](1).toSeq, r.getLong(2))).toSet
    assert(storeSet(dedup1.currentStore) === storeSet(
      MinHashDedup.compactJournal(
        refJournal.unionByName(streamJournal))))

    // ---- takedown: bucket-min 1, whole class 3, streamed survivor ----
    val dels = Seq(1L, 3L, (1L << 62) + 100L)
    val fullJournal = refJournal.unionByName(streamJournal)
    val newStore = MinHashDedup.compactJournal(
      MinHashDedup.deleteFromJournal(fullJournal, dels.toDF("id")))
    // journal appends are replay-idempotent: appending run 1's rows
    // twice compacts to the same store (the crash-replay window)
    val doubled = MinHashDedup.compactJournal(MinHashDedup
      .deleteFromJournal(fullJournal.unionByName(streamJournal),
        dels.toDF("id")))
    def storeRows(s: DataFrame): Set[(Int, Seq[Byte], Long)] =
      s.collect().map(r => (r.getInt(0),
        r.getAs[Array[Byte]](1).toSeq, r.getLong(2))).toSet
    assert(storeRows(doubled) === storeRows(newStore))

    // ---- run 2: resume over the compacted store ----
    val resumeOff = StreamingPipeline.resumeOffset(newStore)
    val batch2 = Seq(
      200L -> (base + " variant zero"), // promotion: row 2 remains → dies
      201L -> gone,                     // class emptied → survives
      202L -> fresh,                    // survivor deleted → survives
      203L -> fresh)                    // within-batch dup → dies to 202
    val dedup2 = new StreamingPipeline.StoreNearDedup(newStore, "text",
      cfg, "doc_id", initialOffset = resumeOff)
    val kept2 = ids(dedup2.processBatch(df(batch2)))
    assert(kept2 === Set(201L, 202L))

    // independent recompute: the physically retained corpus is row 2
    // only (1 and 3 deleted; streamed survivor 100 deleted) — the
    // resumed decision must match dedup against ITS store exactly
    val recompute = ids(MinHashDedup.deduplicateAgainstStore(df(batch2),
      MinHashDedup.bandedStore(df(Seq(2L -> (base + " variant one"))),
        "text", cfg, Some("doc_id")),
      "text", cfg, orderCol = Some("doc_id"), newIdOffset = resumeOff))
    assert(kept2 === recompute)
  }

  test("unpaired fold chaining mints fresh id space per fold " +
      "(r16 review: the mintedAt stash must not freeze across folds)") {
    val store0 = MinHashDedup.compactJournal(
      MinHashDedup.bandedJournal(df(refRows), "text", cfg, Some("doc_id")))
    val dedup = new StreamingPipeline.StoreNearDedup(store0, "text", cfg,
      "doc_id")
    // seeding a store by folding pre-deduped frames, no dedupBatch
    // between: the second frame must land in the NEXT BatchIdStep slot,
    // not collide with the first frame's gids
    dedup.fold(df(Seq(50L -> fresh)))
    dedup.fold(df(Seq(50L -> ("totally different second seeded corpus " +
      "about executors caches and broadcast variables"))))
    val ids = dedup.currentStore.select("id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(ids.contains((1L << 62) + 50L))
    assert(ids.contains((1L << 62) + (1L << 40) + 50L),
      s"second fold must mint at the advanced offset; store ids: $ids")
  }

  test("sig-store twin: journalBatch + takedown across a restart " +
      "(manual drive; wiring shared with the minhash test)") {
    val refJournal = SimHash.sigJournal(df(refRows), "text",
      orderCol = Some("doc_id"))
    val store0 = SimHash.compactSigJournal(refJournal)
    val dedup1 = new StreamingPipeline.SigStoreNearDedup(store0, "text",
      SimHash.signature, 3, "doc_id")
    val batch1 = Seq(100L -> fresh, 101L -> (base + " variant zero"),
      102L -> gone)
    val kept1 = dedup1.dedupBatch(df(batch1))
    val j1 = dedup1.journalBatch(kept1) // BEFORE fold — current offset
    dedup1.fold(kept1)
    assert(ids(kept1) === Set(100L))
    assert(j1.select("id").collect().map(_.getLong(0)).toSet ===
      Set((1L << 62) + 100L))
    // ADVICE r15: journalBatch stamps ids at the offset the batch was
    // MINTED at, not the live (post-fold) offset — calling it after
    // fold used to silently shift gids by BatchIdStep and strand any
    // takedown of a streamed survivor
    assert(dedup1.journalBatch(kept1).select("id").collect()
      .map(_.getLong(0)).toSet === Set((1L << 62) + 100L),
      "journalBatch after fold must mint the same global ids as before")

    val dels = Seq(1L, 3L, (1L << 62) + 100L)
    import spark.implicits._
    val newStore = SimHash.compactSigJournal(SimHash.deleteFromSigJournal(
      refJournal.unionByName(j1), dels.toDF("id")))
    val resumeOff = StreamingPipeline.resumeOffset(newStore)
    val dedup2 = new StreamingPipeline.SigStoreNearDedup(newStore, "text",
      SimHash.signature, 3, "doc_id", initialOffset = resumeOff)
    val batch2 = Seq(200L -> (base + " variant zero"), 201L -> gone,
      202L -> fresh, 203L -> fresh)
    val kept2 = ids(dedup2.processBatch(df(batch2)))
    // exact-sig deletion semantics: variant-zero's signature is still
    // held by... row 2's sig differs (near-dup texts need not share a
    // 64-bit simhash) — so assert against the independent recompute
    // rather than a hand-derived set
    val recompute = ids(SimHash.deduplicateAgainstSigStore(df(batch2),
      SimHash.sigStore(df(Seq(2L -> (base + " variant one"))), "text",
        orderCol = Some("doc_id")),
      "text", orderCol = Some("doc_id"), newIdOffset = resumeOff))
    assert(kept2 === recompute)
    // the takedown of the gone class and the streamed survivor must be
    // visible regardless: identical text ⇒ identical sig ⇒ these can
    // only die against a store entry, and theirs were deleted
    assert(kept2.contains(201L) && kept2.contains(202L))
    assert(!kept2.contains(203L), "within-batch keep-first")
  }
}
