package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{MinHashConfig, MinHashDedup}

/** The incremental banded-signature STORE (VERDICT r9 #1): proves the
  * store path — increment-only signatures band-joined against a persisted
  * [[MinHashDedup.bandedStore]] — keeps EXACTLY the rows the full
  * recompute path ([[MinHashDedup.deduplicateAgainst]], which re-signatures
  * corpus ∪ increment every run) keeps, and that every engineered path
  * through the machinery demonstrably fires: exact cross-copy, near-dup
  * cross-collision (text inequality proven), short-class collapse,
  * within-increment keep-first, transitive chains, and genuinely fresh
  * survivors. Plus store mergeability: bucket-min is associative, so a
  * nightly pipeline can fold each batch's store in without ever
  * re-signaturing the retained corpus.
  */
class DedupStoreSpec extends AnyFunSuite with SharedSession {

  private val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra " +
    "tango uniform victor whiskey xray yankee zulu one two three four " +
    "five six seven eight nine ten"

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "text")
  }

  // retained corpus: a long seed, its own unrelated texts, and a short doc
  private val refRows = Seq(
    1L -> (base + " variant zero"),
    2L -> "completely different retained sentence about parquet readers and vectorized scans in the engine",
    3L -> "hi",
    4L -> "another retained row with its own words entirely unlike the rest of this corpus today")

  // increment: every path in one batch
  private val newRows = Seq(
    100L -> (base + " variant zero"),   // exact copy of ref 1 -> dies
    101L -> (base + " altered zero"),   // near-dup of ref 1 -> dies (LSH)
    102L -> (base + " altered zero x"), // chains to 101 (near) -> dies
    103L -> "yo",                       // short -> dies via ref short class
    104L -> "fresh duplicated increment sentence with plenty of words to shingle over nicely today",
    105L -> "fresh duplicated increment sentence with plenty of words to shingle over nicely today", // within-inc dup of 104
    106L -> "genuinely novel increment content speaking of streams windows and watermarks never seen before")

  private def keptIds(out: DataFrame): Set[Long] =
    out.select("id").collect().map(_.getLong(0)).toSet

  test("store path keeps exactly the recompute path's rows") {
    val ref = df(refRows)
    val inc = df(newRows)
    val store = MinHashDedup.bandedStore(ref, "text", cfg,
      orderCol = Some("id"))
    val viaStore = keptIds(MinHashDedup.deduplicateAgainstStore(
      inc, store, "text", cfg, orderCol = Some("id")))
    val viaRecompute = keptIds(MinHashDedup.deduplicateAgainst(
      inc, ref, "text", cfg))
    assert(viaStore === viaRecompute)
    // and the semantics themselves, path by path:
    assert(!viaStore.contains(100L), "exact cross-copy must die")
    assert(!viaStore.contains(101L), "near-dup cross-collision must die")
    assert(!viaStore.contains(102L), "transitive chain member must die")
    assert(!viaStore.contains(103L), "short doc must join the ref short class")
    assert(viaStore.contains(104L) && !viaStore.contains(105L),
      "within-increment keep-first keeps the min id only")
    assert(viaStore.contains(106L), "fresh content survives")
    // the near-dup kill is genuinely NEAR, not exact: no ref text equals it
    assert(!refRows.map(_._2).contains(newRows.find(_._1 == 101L).get._2))
  }

  test("store round-trips through parquet export identically") {
    val ref = df(refRows)
    val inc = df(newRows)
    val path = tmp(s"store_spec_${System.nanoTime()}")
    val store = MinHashDedup.exportBandedStore(ref, "text", path, cfg,
      orderCol = Some("id"))
    val viaExport = keptIds(MinHashDedup.deduplicateAgainstStore(
      inc, store, "text", cfg, orderCol = Some("id")))
    val viaDirect = keptIds(MinHashDedup.deduplicateAgainstStore(
      inc, MinHashDedup.bandedStore(ref, "text", cfg, Some("id")),
      "text", cfg, orderCol = Some("id")))
    assert(viaExport === viaDirect)
  }

  test("mergeStores(a, b) equals the store of the union corpus") {
    val refA = df(refRows)
    val refB = df(Seq(
      10L -> (base + " variant zero"), // cross-side identical text
      11L -> "a second batch sentence that brings brand new shingles into the retained store"))
    val merged = MinHashDedup.mergeStores(
      MinHashDedup.bandedStore(refA, "text", cfg, Some("id")),
      MinHashDedup.bandedStore(refB, "text", cfg, Some("id")))
    val combined = MinHashDedup.bandedStore(refA.unionByName(refB), "text",
      cfg, Some("id"))
    def rows(s: DataFrame): Set[(Int, Seq[Byte], Long)] =
      s.collect().map(r => (r.getInt(0),
        r.getAs[Array[Byte]](1).toSeq, r.getLong(2))).toSet
    assert(rows(merged) === rows(combined))
  }

  test("continuous operation: surviving increment folds into the store") {
    val ref = df(refRows)
    val inc = df(newRows)
    val store = MinHashDedup.bandedStore(ref, "text", cfg, Some("id"))
    val kept = MinHashDedup.deduplicateAgainstStore(
      inc, store, "text", cfg, orderCol = Some("id"))
    // fold the survivors in at their GLOBAL ids (id + offset — the same
    // ordering deduplicateAgainstStore used), then dedup a next batch
    // containing a copy of a first-batch survivor: it must now die
    val keptGlobal = kept.select(
      (col("id") + lit(MinHashDedup.NewIdOffset)).as("id"), col("text"))
    val store2 = MinHashDedup.mergeStores(store,
      MinHashDedup.bandedStore(keptGlobal, "text", cfg, Some("id")))
    val batch2 = df(Seq(
      7L -> "genuinely novel increment content speaking of streams windows and watermarks never seen before",
      8L -> "entirely new second wave content involving bloom filters sketches and hyperloglog registers"))
    // batch-2 ids must order above everything in store2: store2 holds ids
    // up to NewIdOffset + 106, so bump the batch offset past that
    val kept2 = keptIds(MinHashDedup.deduplicateAgainstStore(
      batch2, store2, "text", cfg, orderCol = Some("id"),
      newIdOffset = MinHashDedup.NewIdOffset + 1000L))
    assert(kept2 === Set(8L), "a copy of a folded-in survivor must die")
  }

  test("bucket-published store joins with no store-side exchange") {
    // the 100 TB claim in exportBandedStore's docs: published bucketed on
    // (band, bsig), the nightly band-join re-shuffles only the increment
    // side — the corpus-derived store is read pre-partitioned
    val ref = df(refRows)
    val store = MinHashDedup.bandedStore(ref, "text", cfg, Some("id"))
    // a stale managed-table LOCATION from an earlier JVM blocks CTAS even
    // with SaveMode.Overwrite when the table isn't in this catalog
    spark.sql("DROP TABLE IF EXISTS graft_store_bucketed_spec")
    val loc = new java.io.File(tmp("warehouse/graft_store_bucketed_spec"))
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    graft.sources.Sources.publishBucketedBy(store,
      "graft_store_bucketed_spec", Seq("band", "bsig"), 4)
    val incBanded = MinHashDedup.bandedStore(df(newRows), "text", cfg,
      Some("id")) // same (band, bsig, id) shape as the increment's frame
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE wraps the plan in a leaf AdaptiveSparkPlanExec; turn it off so
    // the SortMergeJoin's branches are structurally inspectable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val st = spark.table("graft_store_bucketed_spec")
        .withColumnRenamed("id", "sid")
      val j = incBanded.join(st, Seq("band", "bsig"))
      val exec = j.queryExecution.executedPlan
      val smj = exec.collect {
        case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
      }
      assert(smj.nonEmpty, exec.toString.take(800))
      // the CLAIM is about the store branch (the join's right child): its
      // bucketed scan reports its layout and pays NO exchange
      val storeSide = smj.head.right
      assert(storeSide.toString.contains("Bucketed: true"),
        storeSide.toString.take(800))
      assert(storeSide.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.isEmpty, storeSide.toString.take(800))
      // the increment branch pays its own two exchanges — bandedStore's
      // class-key repartition (MinHashDedup.scala REPARTITION_BY_NUM)
      // plus its aggregate's ENSURE_REQUIREMENTS shuffle — which an
      // earlier plan-wide count here wrongly attributed to the store
      val incExchanges = smj.head.left.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }
      assert(incExchanges.size === 2, smj.head.left.toString.take(800))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
