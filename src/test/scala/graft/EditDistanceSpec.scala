package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Clustering, EditDistanceDedup, MinHashConfig}

class EditDistanceSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  /** Independent O(nm) DP — re-verifies Spark's builtin on edges. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = d(0); d(0) = j
      for (i <- 1 to a.length) {
        val cur = d(i)
        d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    d(a.length)
  }

  // ~40 words so a one-word edit touches ≤5 of ~36 shingles — the
  // minhash banding then candidates the pair with near-certainty (the
  // seeded permutations make it deterministic either way)
  private val base = "the quick brown fox jumps over the lazy dog " +
    "while seven wizards brew strong potions at midnight and the " +
    "village sleeps under heavy winter snow as distant bells ring " +
    "softly across the frozen river valley where old lanterns glow " +
    "beside the empty market square tonight"

  test("one-edit near-dups cluster, unrelated docs survive") {
    val docs = Seq(
      1L -> base,
      2L -> base.replace("quick", "quikc"), // typo: high lev similarity
      3L -> base, // exact dup
      4L -> ("completely different words about maritime navigation " +
        "charts and the careful measurement of coastal tides today ok"),
      5L -> "short doc" // < n tokens: passes through untouched
    ).toDF("doc_id", "text")
    val kept = EditDistanceDedup.deduplicate(docs, "text",
        orderCol = Some("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 4L, 5L)))
  }

  test("threshold separates: big rewrite stays, small edit goes") {
    val far = base.split(' ').reverse.mkString(" ") // same words, reordered
    val docs = Seq(1L -> base, 2L -> (base + " extra"), 3L -> far)
      .toDF("doc_id", "text")
    val kept = EditDistanceDedup.deduplicate(docs, "text", threshold = 0.9,
        orderCol = Some("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    // reordering shares every shingle-5? no — reversal breaks word order,
    // but even if banded, lev similarity of a full reversal is far below
    // 0.9 while the one-word append is above it
    assert(kept.contains(1L) && !kept.contains(2L) && kept.contains(3L))
  }

  test("edges are valid: independent DP confirms sim >= threshold") {
    val docs = Seq(
      1L -> base, 2L -> base.replace("lazy", "hazy"),
      3L -> base.replace("midnight", "noon"), 4L -> (base + " tail"),
      5L -> ("unrelated corpus paragraph regarding ancient pottery and " +
        "the slow firing of river clay in wood kilns before dawn light"))
      .toDF("doc_id", "text")
    val withId = Clustering.assignId(docs, Some("doc_id"))
    val texts = withId.select(col(Clustering.IdCol).as("id"),
      col("text")).as[(Long, String)].collect().toMap
    val edges = EditDistanceDedup.verifiedEdges(withId, "text", 5, 0.8,
      MinHashConfig()).as[(Long, Long)].collect()
    assert(edges.nonEmpty)
    for ((x, y) <- edges) {
      val (a, b) = (texts(x), texts(y))
      val sim = 1.0 - lev(a, b).toDouble / math.max(a.length, b.length)
      assert(sim >= 0.8, s"edge ($x,$y) sim $sim below threshold")
    }
  }

  test("levSimilarity: boundary cases") {
    val df = Seq(("", ""), ("abc", ""), ("kitten", "sitting"))
      .toDF("a", "b")
      .select(EditDistanceDedup.levSimilarity(col("a"), col("b"))
        .as("sim"))
    val got = df.as[Double].collect()
    assert(got(0) == 1.0) // both empty
    assert(got(1) == 0.0) // all deletions
    assert(math.abs(got(2) - (1.0 - 3.0 / 7)) < 1e-15)
  }
}
