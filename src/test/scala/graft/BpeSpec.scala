package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.text.Bpe

/** Hand-derived goldens for the BPE trainer/encoder — the merge-apply
  * loop is the one step the bpe_encode_tokens oracle does not re-derive
  * in SQL, so it is pinned here instead.
  */
class BpeSpec extends AnyFunSuite with SharedSession {

  // Sennrich et al. 2016 §3.2 corpus. Weighted pair counts by hand:
  //   round 1: es=9, st=9, t</w>=9 -> tie, lexicographic min = (e,s)
  //   round 2: (es,t)=9 vs (t,</w>)=9 -> (es,t)
  //   round 3: (est,</w>)=9
  //   round 4: lo=7, ow=7, we=2 -> (l,o)
  private val sennrich =
    Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  test("classic corpus: first four merges match the hand derivation") {
    val m = Bpe.trainFromCounts(sennrich, 4)
    assert(m.merges ===
      Vector(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o")))
  }

  test("encodeWord applies merges in rank order across all occurrences") {
    val m = Bpe.trainFromCounts(sennrich, 4)
    // unseen word, every learned merge applies transitively
    assert(m.encodeWord("lowest") === Vector("lo", "w", "est</w>"))
    // no merge applies: bare characters + end marker
    assert(m.encodeWord("zz") === Vector("z", "z", "</w>"))
    assert(m.encodeWord("") === Vector.empty[String])
  }

  test("merge loop stops when no pair repeats (count < 2 compresses nothing)") {
    val m = Bpe.trainFromCounts(Seq("ab" -> 1L, "cd" -> 1L), 10)
    assert(m.merges.isEmpty)
  }

  test("encoded tokens concatenate back to word + </w> for every corpus word") {
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
    val m = Bpe.train(docs, "text", numMerges = 40, maxWords = 200)
    val words = Bpe.wordEncodings(spark, docs, m, "text").collect()
    assert(words.nonEmpty)
    words.foreach { r =>
      val word = r.getString(0)
      val toks = r.getString(1).split(" ").toVector
      assert(toks.mkString("") === word + Bpe.EndOfWord,
        s"round-trip failed for '$word'")
      assert(r.getLong(2) === toks.length.toLong)
    }
  }

  /** The r8 full-rescan loop, the oracle for the equivalence test below
    * (identical merge sequences). O(words × merges) — never call it on a
    * real dictionary.
    */
  private def trainFromCountsRescan(wc: Seq[(String, Long)],
      numMerges: Int): Bpe.BpeModel = {
    var words: Vector[(Vector[String], Long)] = wc.sortBy(_._1).map {
      case (w, c) => (w.map(_.toString).toVector :+ Bpe.EndOfWord, c)
    }.toVector
    val merges = Vector.newBuilder[(String, String)]
    var n = 0
    var exhausted = false
    while (n < numMerges && !exhausted) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pc.update(p, pc.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (pc.isEmpty) exhausted = true
      else {
        val (best, cnt) = pc.minBy { case ((a, b), c) => (-c, a, b) }
        if (cnt < 2) exhausted = true // a pair seen once compresses nothing
        else {
          merges += best
          words = words.map { case (syms, c) =>
            val nb = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 &&
                  syms(i + 1) == best._2) {
                nb += best._1 + best._2; i += 2
              } else { nb += syms(i); i += 1 }
            }
            (nb.result(), c)
          }
          n += 1
        }
      }
    }
    Bpe.BpeModel(merges.result())
  }

  test("incremental merge loop == full-rescan loop on a hostile random dictionary") {
    // VERDICT r8 #4: the pair-index loop must produce the IDENTICAL merge
    // sequence, including ties (lexicographic min at equal weight) and
    // the count<2 stop. Seeded random words with heavy shared suffixes /
    // repeated letters (aa-runs exercise the L→R non-overlapping rewrite)
    // and skewed counts force plenty of both.
    val rnd = new scala.util.Random(42)
    val suffixes = Vector("ing", "est", "er", "ly", "tion", "s", "")
    val wc = (1 to 800).map { i =>
      val stem = (1 to rnd.nextInt(6) + 1).map { _ =>
        val ch = ('a' + rnd.nextInt(8)).toChar
        if (rnd.nextInt(4) == 0) s"$ch$ch" else ch.toString
      }.mkString
      val w = stem + suffixes(rnd.nextInt(suffixes.size))
      (if (w.isEmpty) "x" else w) -> (1000L / i + rnd.nextInt(3))
    }.distinct
    // Second input: a seeded Zipf "morpheme" dictionary (3,000 stems of
    // random letter pairs/triples plus common suffixes, 800 merges) whose
    // pair mass stays deep for hundreds of merges.
    val mrnd = new scala.util.Random(7)
    val syllables = Vector("ing", "tion", "er", "est", "pre", "un", "re",
      "al", "ment", "ness", "ist", "ity", "ous", "ive", "en", "ed", "ly")
    def letter = ('a' + mrnd.nextInt(26)).toChar.toString
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 3000) {
      val stem = (1 to mrnd.nextInt(3) + 1).map { _ =>
        letter + letter + (if (mrnd.nextInt(3) == 0) letter else "")
      }.mkString
      seen += (stem + syllables(mrnd.nextInt(syllables.size)) +
        (if (mrnd.nextInt(5) == 0) syllables(mrnd.nextInt(syllables.size))
         else ""))
    }
    val morphemes = seen.toSeq.zipWithIndex.map { case (w, i) =>
      w -> math.max(1L, 2_000_000L / (i + 1) + (i % 7))
    }
    Seq(wc -> 500, morphemes -> 800).foreach { case (dict, numMerges) =>
      val fast = Bpe.trainFromCounts(dict, numMerges)
      val slow = trainFromCountsRescan(dict, numMerges)
      assert(fast.merges === slow.merges)
      assert(fast.merges.size > 100) // non-degenerate: the loop really ran
    }
  }

  test("distributed train equals trainFromCounts on the same dictionary, repartition-invariant") {
    val s = spark
    import s.implicits._
    val df = Seq.fill(5)("low").map(w => Tuple1(w)) ++
      Seq.fill(2)(Tuple1("lower")) ++ Seq.fill(6)(Tuple1("newest")) ++
      Seq.fill(3)(Tuple1("widest"))
    val corpus = df.toDF("text")
    val m1 = Bpe.train(corpus, "text", 4, 200)
    val m2 = Bpe.train(corpus.repartition(7), "text", 4, 200)
    assert(m1.merges === Bpe.trainFromCounts(sennrich, 4).merges)
    assert(m1.merges === m2.merges)
  }
}
