package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.ParagraphDedup

class ParagraphDedupSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  private def run(docs: Seq[(Long, String)]): Map[Long, String] =
    ParagraphDedup.dedupParagraphs(docs.toDF("id", "t"), "id", "t", "out")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("keeps the globally first occurrence, cuts later ones") {
    val out = run(Seq(
      (1L, "shared intro\n\nbody one"),
      (2L, "shared intro\n\nbody two"),
      (3L, "body three\n\nshared intro")))
    assert(out(1L) == "shared intro\n\nbody one")
    assert(out(2L) == "body two")
    assert(out(3L) == "body three")
  }

  test("first occurrence within one doc wins over a later doc") {
    val out = run(Seq(
      (1L, "a\n\nb\n\na"), // second 'a' in the SAME doc also loses
      (2L, "b\n\nc")))
    assert(out(1L) == "a\n\nb")
    assert(out(2L) == "c")
  }

  test("empty paragraphs normalize away; fully-duplicate docs survive empty") {
    val out = run(Seq(
      (1L, "\n\nx\n\n\n\ny\n\n"), // leading/doubled/trailing separators
      (2L, "x\n\ny")))            // everything already seen
    assert(out(1L) == "x\n\ny")
    assert(out(2L) == "")
    assert(out.size == 2) // row count preserved
  }

  test("repartition-invariant (global first is data-derived, not task order)") {
    val docs = (1L to 200L).map { i =>
      (i, s"common para\n\nunique $i\n\n${if (i % 5 == 0) "five" else "odd"}")
    }
    val a = run(docs)
    val b = ParagraphDedup.dedupParagraphs(
        docs.toDF("id", "t").repartition(13), "id", "t", "out")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    assert(a(1L).contains("common para"))
    assert((2L to 200L).forall(i => !a(i).contains("common para")))
  }
}
