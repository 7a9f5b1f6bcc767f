package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{MinHash, OptimalParam}
import graft.text.{AhoCorasick, CharRepetition, Cleaners, WordLists}

/** Pure-function parity with the reference (no Spark session needed for
  * most): golden vectors pin seed-42 minhash bytes, filter math, and the
  * two documented reference bugs.
  */
class TextOpsSpec extends AnyFunSuite {

  test("optimal_param matches datasketch result at (0.7, 256)") {
    assert(OptimalParam(0.7, 256) === (25, 10))
  }

  test("minhash band signatures are byte-identical to reference numpy") {
    GoldenVectors.minhash.foreach { case (text, expected) =>
      val got = MinHash.bandSignatures(text, 256, 5, 5, 25, 10)
        .map(_.map("%02x".format(_)).mkString)
      assert(got.toSeq === expected.toSeq, s"for text: $text")
    }
  }

  test("near-identical docs share bands; short docs all-MAX_HASH") {
    val a = MinHash.bandSignatures(
      "the quick brown fox jumps over the lazy dog and runs far away from home today",
      256, 5, 5, 25, 10)
    val b = MinHash.bandSignatures(
      "the quick brown fox jumps over the lazy dog and runs far away from home tonight",
      256, 5, 5, 25, 10)
    // jaccard ≈ 0.87 → a few of 25 bands collide (enough to bucket)
    assert(a.zip(b).count { case (x, y) => x.sameElements(y) } > 0)
    // < min_ngram_size tokens → signature stays all MAX_HASH
    val short = MinHash.bandSignatures("short doc", 256, 5, 5, 25, 10)
    val maxBand = Array.fill(10)(
      Array[Byte](0, 0, 0, 0, -1, -1, -1, -1)).flatten
    assert(short.forall(_.sameElements(maxBand)))
  }

  test("char repetition ratio matches reference math") {
    GoldenVectors.filters.foreach { v =>
      assert(math.abs(CharRepetition.ratio(v.text, 10) - v.charRepRatio)
        < 1e-12, s"for: ${v.text.take(30)}")
    }
  }

  test("char repetition ratio is codepoint-indexed on astral planes") {
    // 12 identical astral codepoints → 3 identical windows of 10 → 1.0
    // (UTF-16-unit indexing would split surrogate pairs: 15 windows, <1.0)
    assert(CharRepetition.ratio("😀" * 12, 10) === 1.0)
    // 12 codepoints, all 3 windows distinct singletons → top cap 0 → 0.0
    assert(CharRepetition.ratio("🎉🎂🎈" * 4, 10) === 0.0)
    // below n codepoints (but ≥ n UTF-16 units) → no windows → 0.0
    assert(CharRepetition.ratio("😀" * 9, 10) === 0.0)
  }

  test("simhash/fnv1a golden values from an independent implementation") {
    import graft.dedup.SimHash
    // pinned against a from-scratch python implementation (fnv1a64 over
    // UTF-16 units, [a-z0-9_]+ word features, majority bit votes)
    assert(SimHash.fnv1a64("the") === 6266135566914540924L)
    assert(SimHash.fnv1a64("hello") === -6615550055289275125L)
    assert(SimHash.simhash64("the quick brown fox")
      === 5363936793200807308L)
    assert(SimHash.simhash64("hello, world! hello again")
      === -6615550055299760885L)
    assert(SimHash.simhash64("") === 0L)
    assert(SimHash.simhash64(null) === 0L)
    // single repeated word: signature == that word's hash bit pattern
    assert(SimHash.simhash64("a b a b a") === -5808556873153909620L)
  }

  test("aho-corasick count matches python str.count semantics") {
    val ac = new AhoCorasick(Array("xx", "ab", "abc"))
    // 'xx' in 'xxx' → 1 (non-overlapping, like str.count)
    assert(ac.countAll("xxx") === 1)
    assert(new AhoCorasick(Array("xx")).countAll("xxx") === 1)
    assert(new AhoCorasick(Array("xx")).countAll("xxxx") === 2)
    // substring needles each counted independently, like Σ str.count
    assert(new AhoCorasick(Array("ab", "abc")).countAll("abcab") === 3)
    assert(new AhoCorasick(Array("a")).countAll("") === 0)
  }

  test("aho-corasick containsAny") {
    val ac = new AhoCorasick(WordLists.UnwantedWords)
    assert(ac.containsAny("well as an ai language model I refuse"))
    assert(!ac.containsAny("a perfectly normal sentence"))
    // merged missing-comma phrase is one (never-matching) needle
    assert(!ac.containsAny("ethical principles"))
    assert(ac.containsAny("ethical guidelines"))
  }

  test("ftfy-lite repairs classic mojibake and NFC-normalizes") {
    assert(graft.text.FtfyLite.fix("cafÃ©") === "café")
    assert(graft.text.FtfyLite.fix("café") === "café")
    assert(graft.text.FtfyLite.fix(null) === "")
    assert(graft.text.FtfyLite.fix("plain ascii") === "plain ascii")
  }

  test("ftfy-lite extended pipeline: entities, c1, ligatures, quotes") {
    import graft.text.FtfyLite.fix
    // html entities — only when no raw markup present
    assert(fix("ben &amp; jerry&#39;s &hellip;") === "ben & jerry's …")
    assert(fix("<b>&amp;</b>") === "<b>&amp;</b>") // looks like HTML: keep
    assert(fix("&#x27;x&#x27;") === "'x'")
    // stray C1 controls are cp1252 leftovers:  -> ellipsis
    assert(fix("wait\u0085") === "wait\u2026")
    // latin ligatures and fullwidth forms fold to ascii
    assert(fix("ﬁle ﬂow") === "file flow")
    assert(fix("ＡＢＣ！") === "ABC!")
    // curly quotes uncurl
    assert(fix("‘a’ “b”") === "'a' \"b\"")
    // line breaks unify; ansi escapes and lone surrogates cleaned
    assert(fix("a\r\nb\rc\u2028d") === "a\nb\nc\nd")
    assert(fix("red\u001B[31mtext\u001B[0m") === "redtext")
    assert(fix("ok\uD800end") === "ok�end")
    // mojibake repair still composes with the new steps
    assert(fix("cafÃ©\r\n") === "café\n")
  }

  test("ftfy-lite r8 steps: a0 restore, span decode, lossy collapse") {
    import graft.text.FtfyLite.fix
    // restore_byte_a0: the space stands where the 0xA0 continuation of
    // "\u00C3 " (UTF-8 of a-grave) belongs; it is consumed by the repair
    assert(fix("\u00C3 la carte") === "\u00E0la carte")
    // ...including inside a 3-byte group: \u00E2\u20AC<SP> re-encodes to
    // E2 80 20, the space restores to A0, and E2 80 A0 is U+2020 DAGGER
    assert(fix("wait\u00E2\u20AC here") === "wait\u2020here")
    // but a REAL high-latin word followed by a space is untouched
    assert(fix("\u00C4\u00D6\u00DC umlauts") === "\u00C4\u00D6\u00DC umlauts")
    // decode_inconsistent_utf8: astral emoji blocks the whole-string
    // round-trip; only the mojibake span is decoded
    assert(fix("na\u00C3\u00AFve \uD83D\uDE00!") === "na\u00EFve \uD83D\uDE00!")
    // span decoding uses the sloppy table (hole control 8D in the trail)
    assert(fix("ok \uD83D\uDC4D = \u00F0\u0178\u2018\u008D") ===
      "ok \uD83D\uDC4D = \uD83D\uDC4D")
    // a C0/C1-byte char cannot START a span (overlong guard): U+00C0
    // encodes to byte C0, which is never a UTF-8 lead
    assert(fix("\u00C0\u00AF overlong \uD83C\uDF89") ===
      "\u00C0\u00AF overlong \uD83C\uDF89")
    // replace_lossy_sequences: damaged group collapses to ONE U+FFFD
    assert(fix("a\u00E2\uFFFD\u2122b \uD83D\uDE00") === "a\uFFFDb \uD83D\uDE00")
    assert(fix("x\u00C3\uFFFDy \uD83D\uDE00") === "x\uFFFDy \uD83D\uDE00")
    // multi-pass: doubly-encoded mojibake resolves in two passes
    assert(fix("\u00C3\u0192\u00C2\u00A9t\u00C3\u0192\u00C2\u00A9") ===
      "\u00E9t\u00E9")
  }

  test("ftfy-lite badness stand-in: implausible repairs are refused") {
    import graft.text.FtfyLite.fix
    // curly-quoted prose: "\u00C9\u201D" is span-shaped (C9 94) and
    // strict-decodes to IPA U+0254, but real ftfy refuses via badness --
    // the plausibility gate must too (quotes still uncurl downstream)
    assert(fix("\u201CCAF\u00C9\u201D nice") === "\"CAF\u00C9\" nice")
    // \u00D6 + en-dash decodes to Hebrew accent U+0596: refused
    assert(fix("\u00D6\u2013Wagen \uD83D\uDE00") ===
      "\u00D6\u2013Wagen \uD83D\uDE00")
    // restore_byte_a0 lead restriction: \u00D1/\u00C5 + space are
    // legitimate text (Spanish letter-name, the angstrom), not mojibake
    assert(fix("la \u00D1 es una letra") === "la \u00D1 es una letra")
    assert(fix("\u00C5 is an angstrom") === "\u00C5 is an angstrom")
    // 3-byte a0-restore would make \u00E0+SP+\u20AC the Samaritan
    // letter U+0800; the gate on the RETRY path refuses it
    assert(fix("vendu \u00E0 \u20AC50") === "vendu \u00E0 \u20AC50")
    // ...while genuine repairs still pass the gate
    assert(fix("na\u00C3\u00AFve \uD83D\uDE00") ===
      "na\u00EFve \uD83D\uDE00")
    assert(fix("\u00C3 la carte") === "\u00E0la carte")
    // per-group decode: the overlong pseudo-group E0 80 80 stays, but no
    // longer blocks its valid neighbor "\u00C3\u00AF" -> \u00EF
    assert(fix("\u00C3\u00AF\u00E0\u20AC\u20AC \uD83D\uDE00") ===
      "\u00EF\u00E0\u20AC\u20AC \uD83D\uDE00")
  }

  test("whitespace char table matches reference codepoints") {
    assert(Cleaners.WhitespaceChars.map(_.toInt).toSet ===
      Set(0x20, 0x84, 0x2002, 0x2003, 0x2005, 0x2008, 0x2009, 0x200a,
        0x202f, 0x3000, 0xfffc))
  }

  test("effective unwanted word lists reproduce the reference bug") {
    // filters.py:188-193 missing commas merge 5 phrases into one needle
    assert(WordLists.UnwantedWords.head ===
      "prioritize human safetyethical principlesharmful to human " +
        "beingsseptember 2021as a language model")
    assert(WordLists.UnwantedWords.length === 49)
    assert(WordLists.HarshUnwantedWords.length === 69)
    assert(WordLists.HarshUnwantedWords.contains("artificial intelligenceassist"))
  }
}

/** Spark-bound operator tests: cleaners/filters as Column expressions,
  * pipeline, dedup E2E, sampling invariants.
  */
class SparkOpsSpec extends AnyFunSuite with SharedSession {

  def one(text: String, c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): String = {
    import spark.implicits._
    Seq(text).toDF("t").select(c(col("t")).as("r")).head().getString(0)
  }

  test("cleaners match reference semantics") {
    assert(one("a b　c", Cleaners.normalizeWhitespace) === "a b c")
    assert(one("，。…—", Cleaners.normalizePunctuation) === ",.... - ")
    assert(one("a\n  \n\t\nb\n\nc", Cleaners.removeEmptyLines) === "a\nb\nc")
    assert(one("  a\nb\n ", Cleaners.cleanNewLines) === "ab")
  }

  test("filter golden vectors via Column expressions") {
    import spark.implicits._
    import graft.text.Filters
    val df = GoldenVectors.filters.map(_.text).toDF("t")
    val got = df.select(
      Filters.wordCount(col("t")).as("wc"),
      Filters.checkLowercaseRatio().score(col("t")).as("lr"),
      Filters.checkCompletion().keep(col("t")).as("cp"),
      Filters.checkEmpty().keep(col("t")).as("ek")
    ).collect()
    GoldenVectors.filters.zip(got).foreach { case (v, r) =>
      assert(r.getInt(0) === v.wordCount, s"wc for '${v.text.take(20)}'")
      assert(math.abs(r.getDouble(1) - v.lowercaseRatio) < 1e-12)
      assert(r.getBoolean(2) === v.completion, s"cp for '${v.text.take(20)}'")
      assert(r.getBoolean(3) === v.emptyKeep, s"ek for '${v.text.take(20)}'")
    }
  }

  test("minhash dedup collapses exact and near duplicates, keeps first") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away from home"
    val docs = Seq(
      (0L, base + " today"),
      (1L, base + " today"),            // exact dup of 0
      (2L, base + " tonight"),          // near dup of 0
      (3L, "completely different words about spark catalyst optimizer and tungsten engine execution"),
      (4L, "short")                     // below min_ngram_size: all-MAX sig
    ).toDF("id", "text")
    val kept = graft.dedup.MinHashDedup.deduplicate(docs, "text")
      .select("id").as[Long].collect().toSet
    assert(kept.contains(0L) && !kept.contains(1L))
    assert(!kept.contains(2L)) // jaccard ≈ 0.87 > 0.7 threshold
    assert(kept.contains(3L))
    // sole short doc: all-MAX_HASH signature but alone in its bucket
    assert(kept.contains(4L))
  }

  test("conversation explode → content → chatml roundtrip") {
    import spark.implicits._
    val conv = Seq(
      (Seq(("sys", false, "System"), ("hi there", false, "User"),
        ("hello!", true, "Assistant"), ("more?", false, "User"),
        ("yes more.", true, "Assistant")), "s1")
    ).toDF("msgs", "source")
      .select(transform(col("msgs"), m => struct(
        m.getField("_1").as("content"), m.getField("_2").as("do_train"),
        m.getField("_3").as("role"))).as("conversation"), col("source"))
    val io = graft.chat.Conversations.addContentColumns(
      graft.chat.Conversations.explodeToInputOutput(conv))
    val rows = io.select("instruction", "response").as[(String, String)]
      .collect().toSet
    assert(rows === Set(("hi there", "hello!"), ("more?", "yes more.")))
    val chatml = graft.chat.Conversations.convertToChatml(io)
    val back = chatml.select(graft.chat.Conversations.dedupText(
      col("conversation")).as("t")).as[String].collect().toSet
    assert(back === Set("hello!", "yes more."))
  }

  test("stratified sampling: small groups whole, large groups floored") {
    import spark.implicits._
    val df = (0 until 100).map(i => (if (i < 4) "small" else "big", i))
      .toDF("user_id", "v")
    val out = graft.sampling.Sampling.sampleDataset(df, "user_id", 0.5)
    val counts = out.groupBy("user_id").count()
      .as[(String, Long)].collect().toMap
    assert(counts("small") === 4)
    assert(counts("big") === 48) // floor(96 * 0.5)
  }

  test("filterStats sequential accounting in one pass") {
    import spark.implicits._
    import graft.text.Filters
    val df = Seq("one two three four five six.", "tiny", "seven eight nine ten eleven")
      .toDF("response")
    val stats = graft.pipeline.Preprocessor.filterStats(df, "response",
      Seq(Filters.checkWordNumber(5, 128), Filters.checkCompletion()))
    assert(stats(0) === (("check_word_number", 3L, 2L)))
    assert(stats(1) === (("check_completion", 2L, 1L)))
  }

  test("flagship entry returns rows, deterministically") {
    val n1 = SparkEntry.entry(spark).count()
    val n2 = SparkEntry.entry(spark).count()
    assert(n1 > 0)
    // keep-first dedup representatives are order-pinned → stable count
    assert(n1 === n2)
  }

  test("word count matches python unicode \\w on non-latin text") {
    import graft.text.Filters
    def wc(s: String): Int =
      spark.range(1).select(Filters.wordCount(lit(s)).as("n"))
        .head().getInt(0)
    assert(wc("héllo wörld") === 2) // unicode letters are word chars
    assert(wc("你好 世界") === 2)
    assert(wc("a-b c_d") === 3) // underscore joins, hyphen splits
    assert(wc("½ broken") === 2) // \p{N} includes No (like python \w)
  }

  test("check_gender drops empty tokens and stops at the shorter half") {
    import graft.text.Filters
    val f = Filters.checkGender("<S>")
    def keep(s: String): Boolean =
      spark.range(1).select(f.keep(lit(s)).as("k")).head().getBoolean(0)
    // Python .split() drops the empty token from the leading whitespace:
    // positions align as [he,went] vs [she,went] → gendered pair differs
    assert(keep("he went<S>  she went"))
    // a naive \s+ split would keep "" at position 0 and misalign — the
    // gendered words would then compare at different positions
    assert(keep("he went home<S>\tshe went home "))
    // comparison stops at the shorter half: the gendered word in the
    // longer tail is never reached
    assert(!keep("nobody<S>stays she"))
    // same gendered word at the same position is NOT a flip
    assert(!keep("he went<S>he stayed"))
  }

  test("line boundary regex covers every python splitlines class") {
    // \r\n is ONE boundary; each single char splits; blanks are dropped
    val doc = "a\r\nb\rc\nd\u000Be\ff\u001Cg\u001Dh\u001Ei\u0085j\u2028k\u2029l"
    assert(one(doc, Cleaners.removeEmptyLines)
      === "a\nb\nc\nd\ne\nf\ng\nh\ni\nj\nk\nl")
    assert(one("a\r\n\r\nb", Cleaners.removeEmptyLines) === "a\nb")
    assert(one("x\r\ny", Cleaners.removeEmptyLines) === "x\ny")
  }

  test("sampleDropped returns seeded examples from the dropped set only") {
    import spark.implicits._
    val original = (0L until 20L).map(i => (i, s"doc $i")).toDF("ids", "t")
    val kept = original.where(col("ids") < 13)
    val dropped = graft.pipeline.Preprocessor
      .sampleDropped(original, kept, "ids", numSamples = 5)
    assert(dropped.length === 5)
    assert(dropped.forall(_.getLong(0) >= 13), "only dropped rows")
    // seeded → deterministic
    val again = graft.pipeline.Preprocessor
      .sampleDropped(original, kept, "ids", numSamples = 5)
    assert(dropped.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
    // fewer dropped than requested → all of them
    val few = graft.pipeline.Preprocessor
      .sampleDropped(original, original.where(col("ids") < 18), "ids")
    assert(few.map(_.getLong(0)).toSet === Set(18L, 19L))
  }
}
