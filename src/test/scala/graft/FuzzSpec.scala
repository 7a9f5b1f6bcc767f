package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards for the adversarial-unicode fuzz harness: the corpus must stay
  * genuinely hostile (if a refactor dropped the astral/control/RTL bytes,
  * the fuzz oracles would keep passing vacuously) and the C1 goldens must
  * stay discriminating (some fragment must actually change under ftfy).
  */
class FuzzSpec extends AnyFunSuite with SharedSession {

  private def hasCp(s: String, cp: Int): Boolean =
    s.codePoints().anyMatch(_ == cp)

  test("fragment set covers the hostile classes") {
    val frags = QueriesText.Fragments.map(_._1)
    assert(frags.exists(f => f.codePoints().anyMatch(_ > 0xFFFF)),
      "astral plane")
    assert(frags.exists(hasCp(_, 0x2028)), "line separator")
    assert(frags.exists(hasCp(_, 0x2029)), "paragraph separator")
    assert(frags.exists(hasCp(_, 0x0085)), "NEL")
    assert(frags.exists(hasCp(_, 0x00A0)), "NBSP")
    assert(frags.exists(hasCp(_, 0x200F)), "RTL mark")
    assert(frags.exists(hasCp(_, 0x0301)), "combining mark")
    assert(frags.exists(hasCp(_, 0x0007)), "control (BEL)")
    assert(frags.exists(hasCp(_, 0x000B)), "vertical tab")
    assert(frags.exists(hasCp(_, 0x001B)), "terminal escape")
    assert(frags.exists(hasCp(_, 0x0081)), "C1 control")
    assert(frags.exists(_.exists(c => c >= '֐' && c <= '׿')),
      "RTL script")
    assert(frags.exists(_.exists(c => c >= '！' && c <= '～')),
      "fullwidth forms")
  }

  test("C1 goldens discriminate: some fragments transform, anchors do not") {
    val (changed, same) = QueriesText.Fragments.partition(f => f._1 != f._2)
    assert(changed.size >= 10, s"only ${changed.size} transforming fragments")
    assert(same.size >= 5, s"only ${same.size} identity anchors")
    // and the implementation agrees with every hand-written expectation
    QueriesText.Fragments.foreach { case (in, exp) =>
      assert(graft.text.FtfyLite.fix(in) == exp,
        s"ftfy golden mismatch for ${in.codePoints().toArray.toSeq}")
    }
  }

  test("stored corpus preserves hostile bytes through parquet round-trip") {
    val n2 = QueriesText.Rows.toLong
    val rows = QueriesText.fuzzCleaners
      .run(spark, "/root/testdata/sf0.001").count()
    assert(rows == n2)
    val texts = spark.read.parquet(SideChannel.path("fuzz_corpus"))
      .select("text").collect().map(_.getString(0))
    assert(texts.length == n2)
    // genuinely distinct compositions — all NxN (j, k) fragment pairs
    // (the first cut collapsed to N texts; this pins the fix)
    assert(texts.distinct.length == n2,
      s"only ${texts.distinct.length} distinct texts")
    assert(texts.exists(t => t.codePoints().anyMatch(_ > 0xFFFF)),
      "astral chars survived")
    assert(texts.exists(hasCp(_, 0x2028)), "LS survived")
    assert(texts.exists(hasCp(_, 0x0081)), "C1 control survived")
    assert(texts.exists(hasCp(_, 0x00A0)), "NBSP survived")
  }
}
