package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{MinHashConfig, MinHashDedup, SimHash}

/** Retention deletes for the persisted dedup stores (VERDICT r11 #3 /
  * r12 #4): dedup against the COMPACTED journal after takedowns must
  * equal recompute against the physically-filtered corpus — including
  * the two hard paths: deleting a bucket's MIN id promotes the next
  * member (a near-dup increment must still die), and deleting a class
  * ENTIRELY frees it (a near-dup increment must now survive).
  */
class DedupRetentionSpec extends AnyFunSuite with SharedSession {

  private val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra " +
    "tango uniform victor whiskey xray yankee zulu one two three four"

  private val other = "entirely different corpus row speaking of columnar " +
    "shuffles catalyst rules and whole stage codegen spans in the engine " +
    "plan tree today with many extra tokens to shingle across nicely"

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "text")
  }

  // retained corpus: class A (rows 1, 2 near-dups), class B (rows 3, 4
  // near-dups), unrelated row 5
  private val refRows = Seq(
    1L -> (base + " variant one"),
    2L -> (base + " variant two"),
    3L -> (other + " copy one"),
    4L -> (other + " copy two"),
    5L -> "a lone retained sentence about bloom filters sketches and hll registers with nothing shared")

  // increment: near-dup of class A (1 deleted → must die via promoted 2),
  // near-dup of class B (whole class deleted → must survive), fresh row
  private val incRows = Seq(
    100L -> (base + " variant three"),
    101L -> (other + " copy three"),
    102L -> "genuinely novel increment content involving watermarks state stores and session windows never seen")

  private val deletedIds = Seq(1L, 3L, 4L)

  private def keptIds(out: DataFrame): Set[Long] =
    out.select("id").collect().map(_.getLong(0)).toSet

  private def idFrame(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
  }

  test("compactJournal(bandedJournal(ref)) == bandedStore(ref), " +
      "duplicates and short docs included") {
    val ref = df(refRows ++ Seq(
      6L -> (base + " variant one"), // exact dup of row 1 (class collapse)
      7L -> "hi", 8L -> "yo"))       // short-class members
    def rows(s: DataFrame): Set[(Int, Seq[Byte], Long)] =
      s.collect().map(r => (r.getInt(0),
        r.getAs[Array[Byte]](1).toSeq, r.getLong(2))).toSet
    val compacted = MinHashDedup.compactJournal(
      MinHashDedup.bandedJournal(ref, "text", cfg, Some("id")))
    val store = MinHashDedup.bandedStore(ref, "text", cfg, Some("id"))
    assert(rows(compacted) === rows(store))
  }

  test("minhash: dedup against compacted post-delete journal == " +
      "recompute against retained-minus-deleted corpus") {
    val ref = df(refRows)
    val inc = df(incRows)
    val journal = MinHashDedup.bandedJournal(ref, "text", cfg, Some("id"))
    val store = MinHashDedup.compactJournal(
      MinHashDedup.deleteFromJournal(journal, idFrame(deletedIds)))
    val viaStore = keptIds(MinHashDedup.deduplicateAgainstStore(
      inc, store, "text", cfg, orderCol = Some("id")))
    val retained = ref.where(!col("id").isin(deletedIds: _*))
    val viaRecompute = keptIds(MinHashDedup.deduplicateAgainst(
      inc, retained, "text", cfg))
    assert(viaStore === viaRecompute)
    // the two hard paths actually fired:
    assert(!viaStore.contains(100L),
      "deleted bucket-min must promote ref 2 and still kill the near-dup")
    assert(viaStore.contains(101L),
      "a fully-deleted class must free its near-dups")
    assert(viaStore.contains(102L), "fresh content survives")
  }

  test("minhash: deleting nothing and deleting everything degenerate " +
      "correctly") {
    val ref = df(refRows)
    val inc = df(incRows)
    val journal = MinHashDedup.bandedJournal(ref, "text", cfg, Some("id"))
    val noDelete = keptIds(MinHashDedup.deduplicateAgainstStore(
      inc, MinHashDedup.compactJournal(
        MinHashDedup.deleteFromJournal(journal, idFrame(Seq(999L)))),
      "text", cfg, orderCol = Some("id")))
    val viaPlainStore = keptIds(MinHashDedup.deduplicateAgainstStore(
      inc, MinHashDedup.bandedStore(ref, "text", cfg, Some("id")),
      "text", cfg, orderCol = Some("id")))
    assert(noDelete === viaPlainStore)
    val allDeleted = keptIds(MinHashDedup.deduplicateAgainstStore(
      inc, MinHashDedup.compactJournal(
        MinHashDedup.deleteFromJournal(journal,
          idFrame(refRows.map(_._1)))),
      "text", cfg, orderCol = Some("id")))
    // empty store: only within-increment dedup applies; all three inc
    // rows are mutually unrelated → all survive
    assert(allDeleted === Set(100L, 101L, 102L))
  }

  test("simhash: sig journal delete + compact == recompute against " +
      "retained-minus-deleted corpus") {
    val ref = df(refRows)
    val inc = df(incRows)
    val journal = SimHash.sigJournal(ref, "text", orderCol = Some("id"))
    val store = SimHash.compactSigJournal(
      SimHash.deleteFromSigJournal(journal, idFrame(deletedIds)))
    val viaStore = keptIds(SimHash.deduplicateAgainstSigStore(
      inc, store, "text", orderCol = Some("id")))
    val retained = ref.where(!col("id").isin(deletedIds: _*))
    val viaRecompute = keptIds(SimHash.deduplicateAgainst(
      inc, retained, "text"))
    assert(viaStore === viaRecompute)
    // journal == store when nothing was ever deleted
    def rows(s: DataFrame): Set[(Long, Long)] =
      s.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(SimHash.compactSigJournal(journal)
        .select("sig", "id")) ===
      rows(SimHash.sigStore(ref, "text", orderCol = Some("id"))
        .select("sig", "id")))
  }

  test("PROPERTY: delete-then-compact == store of the physically " +
      "filtered corpus, for RANDOM delete sets (both journal families)") {
    // generalizes the fixed scenarios above: for any delete set D,
    //   compactJournal(deleteFromJournal(J, D)) must equal
    //   bandedStore(ref − D) frame-for-frame (and the sig twins) —
    // bucket-min promotion, whole-class deletion, and degenerate
    // deletes are all corollaries of this one equivalence
    def bRows(s: DataFrame): Set[(Int, Seq[Byte], Long)] =
      s.collect().map(r => (r.getInt(0),
        r.getAs[Array[Byte]](1).toSeq, r.getLong(2))).toSet
    def sRows(s: DataFrame): Set[(Long, Long)] =
      s.select("sig", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (seed <- Seq(7, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      // templated classes (near-dup variants), exact dups, short docs,
      // and unique rows — every journal population shape at once
      val rows = (0L until 40L).map { i =>
        val t = rnd.nextInt(5) match {
          case 0 => base + s" variant ${rnd.nextInt(3)}"
          case 1 => other + s" copy ${rnd.nextInt(3)}"
          case 2 => "hi" // short class
          case _ => s"unique row $i with tokens ${rnd.nextInt(1000)} " +
            "spread across enough words to shingle at n three"
        }
        i -> t
      }
      val ref = df(rows)
      val dels = (0L until 40L).filter(_ => rnd.nextDouble() < 0.3)
      val retained = ref.where(!col("id").isin(dels: _*))
      val mCompact = MinHashDedup.compactJournal(
        MinHashDedup.deleteFromJournal(
          MinHashDedup.bandedJournal(ref, "text", cfg, Some("id")),
          idFrame(dels)))
      val mStore = MinHashDedup.bandedStore(retained, "text", cfg,
        Some("id"))
      assert(bRows(mCompact) === bRows(mStore), s"minhash seed=$seed " +
        s"dels=${dels.mkString(",")}")
      val sCompact = SimHash.compactSigJournal(
        SimHash.deleteFromSigJournal(
          SimHash.sigJournal(ref, "text", orderCol = Some("id")),
          idFrame(dels)))
      val sStore = SimHash.sigStore(retained, "text",
        orderCol = Some("id"))
      assert(sRows(sCompact) === sRows(sStore), s"simhash seed=$seed")
    }
  }
}
