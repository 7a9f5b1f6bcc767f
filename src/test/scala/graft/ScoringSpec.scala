package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.scoring.{ArpaModel, ArpaScorer, CcNetNormalizer}

/** F2 perplexity scoring: ARPA backoff arithmetic (hand-checked golden
  * model), the reference's document-scoring semantics
  * (kenlm_model.py:122-142), and plausibility of the shipped model.
  */
class ScoringSpec extends AnyFunSuite with SharedSession {

  // tiny hand-written order-4 model: vocab {a, b}, two bigrams (with
  // order-2 backoff weights), two trigrams (one carrying an order-3
  // backoff weight), one 4-gram
  private val tiny = ArpaModel.parse(
    """\data\
      |ngram 1=5
      |ngram 2=2
      |ngram 3=2
      |ngram 4=1
      |
      |\1-grams:
      |-99.000000	<s>	-0.300000
      |-0.900000	</s>	0.000000
      |-0.500000	a	-0.200000
      |-0.800000	b	-0.100000
      |-2.000000	<unk>	0.000000
      |
      |\2-grams:
      |-0.400000	a b	-0.150000
      |-0.250000	<s> a	-0.050000
      |
      |\3-grams:
      |-0.200000	<s> a b	-0.120000
      |-0.350000	a b a
      |
      |\4-grams:
      |-0.180000	<s> a b a
      |
      |\end\
      |""".stripMargin.linesIterator)

  test("arpa backoff query arithmetic (hand-computed chains)") {
    // listed bigram wins at the bigram level
    assert(math.abs(tiny.logProb("a", "b") - (-0.4)) < 1e-12)
    // unlisted: backoff1(h) + p1(w)
    assert(math.abs(tiny.logProb("b", "a") - (-0.1 + -0.5)) < 1e-12)
    // OOV event maps to <unk>
    assert(math.abs(tiny.logProb("a", "zzz") - (-0.2 + -2.0)) < 1e-12)
    // listed trigram wins
    assert(math.abs(tiny.logProb("<s>", "a", "b") - (-0.2)) < 1e-12)
    // unlisted trigram, listed context: backoff2(h2 h1) + p(w|h1)
    //   p(</s>|a b) = bo2("a b") + [bo1(b) + p1(</s>)]
    assert(math.abs(tiny.logProb("a", "b", "zzz")
      - (-0.15 + (-0.1 + -2.0))) < 1e-12)
    // unlisted trigram, unlisted context: backoff2 = 0
    assert(math.abs(tiny.logProb("b", "a", "zzz")
      - (0.0 + (-0.2 + -2.0))) < 1e-12)
    // null h2 (first event after <s>) degrades to the bigram query
    assert(tiny.logProb(null, "a", "b") === tiny.logProb("a", "b"))
    // listed 4-gram wins
    assert(math.abs(tiny.logProb("<s>", "a", "b", "a") - (-0.18)) < 1e-12)
    // unlisted 4-gram, listed context trigram: backoff3 + trigram query
    //   P(</s>|<s> a b) = bo3("<s> a b") + p3("a b </s>" unlisted:
    //   bo2("a b") + bo1(b) + p1(</s>))
    assert(math.abs(tiny.logProb("<s>", "a", "b", "zzz")
      - (-0.12 + (-0.15 + (-0.1 + -2.0)))) < 1e-12)
    // unlisted 4-gram, unlisted context trigram: backoff3 = 0
    assert(math.abs(tiny.logProb("b", "a", "b", "a")
      - (0.0 + -0.35)) < 1e-12)
    // null h3 (history shorter than 3) degrades to the trigram query
    assert(tiny.logProb(null, "<s>", "a", "b") === tiny.logProb("<s>", "a", "b"))
    // document chain: P(a|<s>) + P(b|<s> a) + P(</s>|<s> a b)
    //   = -0.25 + -0.2 + (bo3("<s> a b") + bo2("a b") + bo1(b) + p1(</s>))
    val want = -0.25 + -0.2 + (-0.12 + -0.15 + -0.1 + -0.9)
    assert(math.abs(tiny.score("a b") - want) < 1e-12)
    // leading/trailing whitespace tokens are dropped
    assert(tiny.score("  a   b  ") === tiny.score("a b"))
  }

  test("shipped model loads and is non-trivial") {
    val m = ArpaScorer.model
    assert(m.vocabSize > 5000, "vocab")
    assert(m.bigramCount > 20000, "bigrams")
    assert(m.trigramCount > 20000, "trigrams")
    assert(m.quadgramCount > 20000, "quadgrams")
  }

  test("document perplexity semantics match the reference") {
    // one line: 10^(−score/(words+1)), rounded to 1 dp
    val line = "the software is provided without warranty"
    val m = ArpaScorer.model
    val norm = CcNetNormalizer.normalize(line)
    val words = norm.split("\\s+").count(_.nonEmpty)
    val want = math.rint(
      math.pow(10.0, -m.score(norm) / (words + 1)) * 10.0) / 10.0
    assert(ArpaScorer.score(line) === want)
    // scores are deterministic and 1-dp rounded
    val s = ArpaScorer.score(line)
    assert(s === ArpaScorer.score(line))
    assert(math.abs(s * 10.0 - math.rint(s * 10.0)) < 1e-9)
    // cc_net normalization is applied before scoring: digits collapse to 0
    assert(ArpaScorer.score("version 42 of license 1999")
      === ArpaScorer.score("version 77 of license 3333"))
  }

  test("natural in-domain text scores far below gibberish") {
    val natural = ArpaScorer.score(
      "This software is provided without warranty of any kind. " +
        "You may redistribute it under the terms of the license.")
    val gibberish = ArpaScorer.score(
      "xq zvkw jjj qqq zzz glarp wug blick snark fneep")
    assert(natural < 100, s"natural=$natural")
    assert(gibberish > 1000, s"gibberish=$gibberish")
    assert(natural * 50 < gibberish)
  }

  test("perplexity filter wiring uses the arpa scorer") {
    assert(graft.scoring.Perplexity.scorer eq ArpaScorer)
  }

  test("ccnet buckets: LM-scored approx cutoffs track exact terciles") {
    val docs = graft.Queries.table(spark, "/root/testdata/sf0.001",
      "documents")
    val exact = graft.scoring.Buckets
      .ccnetBuckets(docs, "text", "doc_id", exact = true)
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val approx = graft.scoring.Buckets
      .ccnetBuckets(docs, "text", "doc_id")
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(exact.size === 500 && approx.size === 500)
    // exact terciles are balanced
    val sizes = exact.values.groupBy(identity).view.mapValues(_.size)
    assert(sizes.values.forall(s => s >= 166 && s <= 167), sizes.toMap)
    // approx cutoffs agree with exact terciles except at boundaries
    // (ties on equal ppl scores straddle the cut)
    val agree = exact.count { case (id, b) => approx(id) == b }
    assert(agree >= 450, s"only $agree/500 agree")
  }
}
