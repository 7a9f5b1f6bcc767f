package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.SimHash
import graft.multimodal.ImageHash

/** The hamming family's persisted signature store: store path ≡
  * recompute path, controlled-hash cross kills at hamming 0 and 2,
  * store mergeability, continuous fold-in, and null-signature
  * passthrough on both sides — the DedupStoreSpec battery for
  * [[SimHash.sigStore]]/[[SimHash.deduplicateAgainstSigStore]].
  */
class SigStoreSpec extends AnyFunSuite with SharedSession {

  private def pgmOf(hash: Long, offset: Int): Array[Byte] =
    TestFixtures.pgmOf(hash, offset)

  private val hA = 0x1111222233334444L
  private val hB = 0x5555666677778888L
  private val hFresh = 0x0F0E0D0C0B0A0908L

  // retained corpus: two image classes + an undecodable row
  private def refRows = Seq(
    1L -> pgmOf(hA, 0),
    2L -> pgmOf(hB, 0),
    3L -> "garbage-in-the-retained-corpus".getBytes("US-ASCII"))

  // increment: every path
  private def incRows = Seq(
    100L -> pgmOf(hA, 5),                      // hamming 0 vs ref (bytes differ) -> dies
    101L -> pgmOf(hB ^ (1L << 4) ^ (1L << 44), 0), // hamming 2 vs ref -> dies
    102L -> pgmOf(hFresh, 0),                  // fresh -> survives
    103L -> pgmOf(hFresh, 9),                  // within-inc ham-0 dup of 102 -> dies
    104L -> pgmOf(hFresh ^ 0x0044001100440011L, 0), // ham 8 from everything -> survives
    105L -> "undecodable increment row".getBytes("US-ASCII")) // survives

  private def df(rows: Seq[(Long, Array[Byte])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "img")
  }

  private def ids(d: DataFrame): Set[Long] =
    d.select("id").collect().map(_.getLong(0)).toSet

  test("image-dhash store path keeps exactly the recompute path's rows; " +
      "all engineered paths fire") {
    val store = SimHash.sigStore(df(refRows), "img", ImageHash.dhashUdf,
      Some("id"))
    // the undecodable ref row never enters the store
    assert(store.count() === 2)
    val viaStore = ids(SimHash.deduplicateAgainstSigStore(df(incRows),
      store, "img", ImageHash.dhashUdf, maxHamming = 3,
      orderCol = Some("id")))
    val viaRecompute = ids(SimHash.deduplicateAgainst(df(incRows),
      df(refRows), "img", ImageHash.dhashUdf, maxHamming = 3))
    assert(viaStore === viaRecompute)
    assert(viaStore === Set(102L, 104L, 105L))
  }

  test("text-simhash default: exact-copy cross kill, fresh survival, " +
      "store ≡ recompute") {
    import spark.implicits._
    val ref = Seq(
      1L -> "a retained sentence about shuffle partitions and broadcast joins in spark",
      2L -> "another retained paragraph covering watermarks and stateful streaming").toDF("id", "text")
    val inc = Seq(
      10L -> "a retained sentence about shuffle partitions and broadcast joins in spark", // ham 0 -> dies
      11L -> "entirely fresh words on bloom filters sketches and hyperloglog registers")
      .toDF("id", "text")
    val store = SimHash.sigStore(ref, "text", orderCol = Some("id"))
    val kept = ids(SimHash.deduplicateAgainstSigStore(inc, store, "text",
      orderCol = Some("id")))
    assert(kept === ids(SimHash.deduplicateAgainst(inc, ref, "text")))
    assert(kept === Set(11L))
  }

  test("mergeSigStores(a, b) equals the store of the union corpus") {
    val refB: Seq[(Long, Array[Byte])] = Seq(
      10L -> pgmOf(hA, 3), // cross-side identical signature, higher id
      11L -> pgmOf(0x9999AAAABBBBCCCCL, 0))
    val merged = SimHash.mergeSigStores(
      SimHash.sigStore(df(refRows), "img", ImageHash.dhashUdf, Some("id")),
      SimHash.sigStore(df(refB), "img", ImageHash.dhashUdf, Some("id")))
    val combined = SimHash.sigStore(df(refRows).unionByName(df(refB)),
      "img", ImageHash.dhashUdf, Some("id"))
    def rows(s: DataFrame): Set[(Long, Long)] =
      s.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(merged) === rows(combined))
    // the shared-signature class keeps the MIN id across sides
    assert(merged.where(org.apache.spark.sql.functions.col("id") === 1L)
      .count() === 1)
  }

  test("bucket-published banded sig store: same kept set, no store-side " +
      "exchange in the cross join") {
    import org.apache.spark.sql.functions._
    val store = SimHash.sigStore(df(refRows), "img", ImageHash.dhashUdf,
      Some("id"))
    spark.sql("DROP TABLE IF EXISTS graft_sig_store_bucketed_spec")
    val loc = new java.io.File(
      tmp("warehouse/graft_sig_store_bucketed_spec"))
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    graft.sources.Sources.publishBucketedBy(
      SimHash.bandedSigStore(store, maxHamming = 3),
      "graft_sig_store_bucketed_spec", Seq("band", "chunk"), 4)
    val published = spark.table("graft_sig_store_bucketed_spec")
    // kept set identical through the banded path
    val viaBanded = ids(SimHash.deduplicateAgainstBandedSigStore(
      df(incRows), published, "img", ImageHash.dhashUdf, maxHamming = 3,
      orderCol = Some("id")))
    val viaPlain = ids(SimHash.deduplicateAgainstSigStore(df(incRows),
      store, "img", ImageHash.dhashUdf, maxHamming = 3,
      orderCol = Some("id")))
    assert(viaBanded === viaPlain)
    // plan: the increment's banded frame joins the published store with
    // zero exchanges on the STORE branch (bucketed scan feeds the join)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val incSigs = df(incRows).select(col("id"),
        ImageHash.dhashUdf(col("img")).as("sig"))
      val j = SimHash.crossEdgesPreBanded(incSigs,
        published.withColumnRenamed("id", "__sid__")
          .withColumnRenamed("sig", "ssig"), 3)
      val exec = j.queryExecution.executedPlan
      val smj = exec.collect {
        case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
      }
      assert(smj.nonEmpty, exec.toString.take(600))
      val storeSide = smj.head.right
      assert(storeSide.toString.contains("Bucketed: true"),
        storeSide.toString.take(600))
      assert(storeSide.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.isEmpty, storeSide.toString.take(600))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("distributed clustering branch: maxDriverEdges=0 keeps the same " +
      "set as the driver UnionFind") {
    val store = SimHash.sigStore(df(refRows), "img", ImageHash.dhashUdf,
      Some("id"))
    val driver = ids(SimHash.deduplicateAgainstSigStore(df(incRows),
      store, "img", ImageHash.dhashUdf, maxHamming = 3,
      orderCol = Some("id")))
    val distributed = ids(SimHash.deduplicateAgainstSigStore(df(incRows),
      store, "img", ImageHash.dhashUdf, maxHamming = 3,
      maxDriverEdges = 0L, orderCol = Some("id")))
    assert(distributed === driver)
  }

  test("maxHamming = 0: the single 64-bit band chunks on the WHOLE sig " +
      "(no degenerate zero mask), and exact-sig dedup behaves") {
    import spark.implicits._
    // (1L << 64) - 1 == 0 on the JVM (shift distance mod 64): a zero
    // mask would send EVERY signature to chunk 0 and degenerate the
    // band join into a full cross join of distinct sigs
    val banded = SimHash.bandSig(
      Seq((1L, 123456789123L), (2L, -42L)).toDF("id", "sig"), 0)
      .select("id", "chunk").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(banded(1L) === 123456789123L)
    assert(banded(2L) === -42L)
    // semantics: hamming-0 twins collapse, hamming-1 neighbors survive
    val h = 0x7777000012349876L
    val rows = df(Seq(
      1L -> pgmOf(h, 0),
      2L -> pgmOf(h, 6),             // same hash, different bytes -> dies
      3L -> pgmOf(h ^ (1L << 5), 0))) // hamming 1 -> must SURVIVE at k=0
    val kept = ids(ImageHash.deduplicateByDHash(rows, "img",
      maxHamming = 0, orderCol = Some("id")))
    assert(kept === Set(1L, 3L))
  }

  test("continuous operation: surviving increment folds into the store") {
    val store = SimHash.sigStore(df(refRows), "img", ImageHash.dhashUdf,
      Some("id"))
    val kept = SimHash.deduplicateAgainstSigStore(df(incRows), store,
      "img", ImageHash.dhashUdf, orderCol = Some("id"))
    import org.apache.spark.sql.functions._
    val keptGlobal = kept.select(
      (col("id") + lit(graft.dedup.MinHashDedup.NewIdOffset)).as("id"),
      col("img"))
    val store2 = SimHash.mergeSigStores(store,
      SimHash.sigStore(keptGlobal, "img", ImageHash.dhashUdf, Some("id")))
    // batch 2: a copy of the batch-1 survivor must now die; fresh lives
    val batch2 = df(Seq(
      7L -> pgmOf(hFresh, 2),
      8L -> pgmOf(0x1234432156788765L, 0)))
    val kept2 = ids(SimHash.deduplicateAgainstSigStore(batch2, store2,
      "img", ImageHash.dhashUdf, orderCol = Some("id"),
      newIdOffset = graft.dedup.MinHashDedup.NewIdOffset + 1000L))
    assert(kept2 === Set(8L))
  }
}
