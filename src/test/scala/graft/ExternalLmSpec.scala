package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.scoring.{ArpaModel, ArpaScorer, ExternalLm, ExternalLmScorer,
  SentencePieceTable}

/** VERDICT r15 #1 done-criteria beyond the f2_external_lm oracle: the
  * runtime ingestion path (ArpaModel.fromFile + SentencePieceTable
  * .fromFile) round-trips, greedy longest-match segmentation follows the
  * SentencePiece `▁` convention, and with the shipped word model + no
  * piece table the external scorer degenerates to today's
  * f2_check_perplexity behavior exactly.
  */
class ExternalLmSpec extends AnyFunSuite with SharedSession {

  private def table(entries: (String, Double)*): SentencePieceTable =
    SentencePieceTable.parse(
      entries.map { case (p, s) => s"$p\t$s" }.iterator)

  test("greedy longest-match: longest piece wins, boundary marked, " +
      "unknown codepoints fall back to single-char tokens") {
    val t = table("▁the" -> -1.0, "▁th" -> -1.5, "▁t" -> -2.0,
      "he" -> -2.2, "re" -> -2.5, "▁he" -> -2.1)
    // "the here" → ▁the ▁he re ; 'x' unknown → itself
    assert(t.segmentLine("the here") === Seq("▁the", "▁he", "re"))
    assert(t.segmentLine("thex") === Seq("▁the", "x"))
    // leading boundary: a line always starts with ▁
    assert(t.segmentLine("he") === Seq("▁he"))
    assert(t.segmentLine("") === Seq.empty)
  }

  test("segmentation is codepoint-exact for astral-plane input") {
    val clef = new String(Character.toChars(0x1D11E)) // 𝄞 (2 UTF-16 chars)
    val t = table("▁a" -> -1.0)
    // the unknown astral char must come back as ONE token, not a split
    // surrogate pair — SQL replay engines index codepoints
    assert(t.segmentLine(s"a$clef") === Seq("▁a", clef))
  }

  test("segmentation invariant (seeded fuzz): pieces concatenate back " +
      "to the ▁-marked line exactly — greedy never drops, duplicates, " +
      "or reorders codepoints, for any table") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abcdef ▁x▁"  // include the boundary char itself as
    // hostile input: a literal ▁ in text must still round-trip
    (1 to 200).foreach { _ =>
      val line = Seq.fill(rnd.nextInt(40))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
        .replace('▁', 'g') // segmentLine's contract is a normalized line
      val pieces = Seq.fill(rnd.nextInt(30) + 1) {
        val len = rnd.nextInt(5) + 1
        val p = Seq.fill(len)("abcdefg▁".charAt(rnd.nextInt(8))).mkString
        p -> -1.0
      }
      val t = table(pieces: _*)
      val segs = t.segmentLine(line)
      val expected = if (line.isEmpty) "" else "▁" + line.replace(' ', '▁')
      assert(segs.mkString === expected,
        s"line='$line' pieces=${pieces.map(_._1)} segs=$segs")
      // every emitted piece is either in the table or a single codepoint
      segs.foreach { p =>
        assert(t.contains(p) || p.codePointCount(0, p.length) == 1,
          s"piece '$p' neither in table nor single-codepoint")
      }
    }
  }

  test("viterbi segmentation: maximizes piece-score sum where greedy's " +
      "maximal munch is suboptimal; identical on unambiguous tables") {
    // greedy takes ▁ab then falls back on single chars; viterbi pays a
    // slightly worse first piece to cover everything with real pieces
    val t = table("▁ab" -> -1.0, "▁a" -> -4.0, "bcd" -> -1.5,
      "c" -> -9.0, "d" -> -9.0)
    assert(t.segmentLine("abcd") === Seq("▁ab", "c", "d"))
    assert(t.segmentViterbi("abcd") === Seq("▁a", "bcd"))
    assert(t.segScore(t.segmentViterbi("abcd")) >
      t.segScore(t.segmentLine("abcd")))
    // unambiguous table: the two modes agree (longer-piece tie-break)
    val u = table("▁the" -> -1.0, "▁he" -> -2.0, "re" -> -2.5)
    assert(u.segmentViterbi("the here") === u.segmentLine("the here"))
    assert(u.segmentViterbi("") === Seq.empty)
  }

  test("viterbi optimality + concatenation invariant (seeded fuzz): " +
      "score(viterbi) >= score(greedy), pieces rebuild the marked line") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val line = Seq.fill(rnd.nextInt(30))(
        "abcde ".charAt(rnd.nextInt(6))).mkString
      val pieces = Seq.fill(rnd.nextInt(25) + 1) {
        val len = rnd.nextInt(4) + 1
        Seq.fill(len)("abcde▁".charAt(rnd.nextInt(6))).mkString ->
          -(rnd.nextInt(200) / 10.0 + 0.1)
      }
      val t = table(pieces: _*)
      val v = t.segmentViterbi(line)
      val g = t.segmentLine(line)
      val expected = if (line.isEmpty) "" else "▁" + line.replace(' ', '▁')
      assert(v.mkString === expected, s"line='$line' v=$v")
      assert(t.segScore(v) >= t.segScore(g),
        s"line='$line' viterbi=$v (${t.segScore(v)}) " +
          s"greedy=$g (${t.segScore(g)})")
    }
  }

  test("check_perplexity lm_segment: viterbi routes the mode; a typo " +
      "names the key") {
    val tmp = freshDir("extlm_vit")
    def dump(res: String, name: String): String = {
      val in = getClass.getClassLoader.getResourceAsStream(res)
      val p = tmp.resolve(name)
      java.nio.file.Files.copy(in, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      in.close()
      p.toString
    }
    val lm = dump("graft/graft-en-sp.arpa", "model.arpa")
    val pieces = dump("graft/graft-en.pieces", "pieces.vocab")
    // builds without error in both modes
    graft.text.Filters.fromConfig("check_perplexity",
      Map("lm_path" -> lm, "pieces_path" -> pieces,
        "lm_segment" -> "viterbi"))
    graft.text.Filters.fromConfig("check_perplexity",
      Map("lm_path" -> lm, "pieces_path" -> pieces))
    val bad = intercept[RuntimeException] {
      graft.text.Filters.fromConfig("check_perplexity",
        Map("lm_path" -> lm, "lm_segment" -> "virterbi"))
    }
    assert(bad.getMessage.contains("lm_segment"))
    // external-model args without lm_path must fail, not silently score
    // with the compiled-in word model (r16 review)
    val orphan = intercept[RuntimeException] {
      graft.text.Filters.fromConfig("check_perplexity",
        Map("pieces_path" -> pieces))
    }
    assert(orphan.getMessage.contains("requires lm_path"))
    // the two modes are distinct scorers over the shipped pair
    val gScorer = ExternalLm.fromFiles(lm, Some(pieces))
    val vScorer = ExternalLm.fromFiles(lm, Some(pieces),
      segMode = "viterbi")
    val doc = "this is a simple test sentence with common words"
    assert(gScorer.score(doc) > 0 && vScorer.score(doc) > 0)
  }

  test("piece table file round-trip: parse == fromFile, maxPieceLen " +
      "tracks the longest piece") {
    val lines = Seq("▁hello\t-3.5", "lo\t-2.0", "x\t-4.25")
    val dir = freshDir("sp")
    val f = dir.resolve("pieces.vocab")
    java.nio.file.Files.write(f,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    val t = SentencePieceTable.fromFile(f.toString)
    assert(t.size === 3)
    assert(t.maxPieceLen === 6)
    assert(t.score("▁hello") === Some(-3.5))
    assert(t.contains("lo") && t.contains("x"))
  }

  test("ArpaModel.fromFile round-trips the shipped resource and scores " +
      "identically") {
    val dir = freshDir("arpa")
    val f = dir.resolve("model.arpa")
    val in = getClass.getClassLoader
      .getResourceAsStream("graft/graft-en.arpa")
    java.nio.file.Files.copy(in, f,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    in.close()
    val loaded = ArpaModel.fromFile(f.toString)
    assert(loaded.vocabSize === ArpaScorer.model.vocabSize)
    assert(loaded.quadgramCount === ArpaScorer.model.quadgramCount)
    val line = "this is a simple test sentence with common words"
    assert(loaded.score(line) === ArpaScorer.model.score(line))
  }

  test("with the shipped model and no piece table the external scorer " +
      "degenerates to f2_check_perplexity's ArpaScorer exactly") {
    val ext = new ExternalLmScorer(ArpaScorer.model, None)
    val docs = Seq(
      "The quick brown fox jumps over the lazy dog.",
      "key agg row scan slow fast table value part hash",
      "Multi\nline\ndocument with 42 numbers and Élan accents…",
      "", null)
    docs.foreach { d =>
      assert(ext.score(d) === ArpaScorer.score(d), s"doc: $d")
    }
  }

  test("fromFiles loads the shipped piece pair; piece segmentation " +
      "changes tokenization but keeps the reference's doc semantics") {
    val tmp = freshDir("extlm_spec")
    def dump(res: String, name: String): String = {
      val in = getClass.getClassLoader.getResourceAsStream(res)
      assert(in != null, s"missing resource $res")
      val p = tmp.resolve(name)
      java.nio.file.Files.copy(in, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      in.close()
      p.toString
    }
    val scorer = ExternalLm.fromFiles(
      dump("graft/graft-en-sp.arpa", "model.arpa"),
      Some(dump("graft/graft-en.pieces", "pieces.vocab")))
    val natural = "this is a simple test sentence with common words " +
      "that the model has certainly seen in training"
    val soup = "zq xv jk qqq wxy zzz plgh krv mnpt vvv qqq zq xv"
    val pNat = scorer.score(natural)
    val pSoup = scorer.score(soup)
    assert(pNat > 0 && pSoup > 0)
    // the LM must order natural text as more probable than OOV soup —
    // the property the perplexity FILTER exists for
    assert(pNat < pSoup, s"natural=$pNat soup=$pSoup")
    // degenerate docs: anything normalizing to "" scores like "" (the
    // <s>→</s> event over one empty line — same as the word scorer)
    assert(scorer.score("   ") === scorer.score(""))
  }

  test("check_perplexity config args lm_path/pieces_path route through " +
      "the external model (filter scores == direct scorer)") {
    import spark.implicits._
    val tmp = freshDir("extlm_cfg")
    def dump(res: String, name: String): String = {
      val in = getClass.getClassLoader.getResourceAsStream(res)
      val p = tmp.resolve(name)
      java.nio.file.Files.copy(in, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      in.close()
      p.toString
    }
    val lm = dump("graft/graft-en-sp.arpa", "model.arpa")
    val pieces = dump("graft/graft-en.pieces", "pieces.vocab")
    val f = graft.text.Filters.fromConfig("check_perplexity",
      Map("lm_path" -> lm, "pieces_path" -> pieces,
        "min_perplexity_threshold" -> 1, "max_perplexity_threshold" -> 50))
    val docs = Seq("this is a simple test sentence with common words",
      "zq xv jk qqq wxy zzz plgh").toDF("text")
    val scored = docs
      .select(f.score(org.apache.spark.sql.functions.col("text")).as("s"))
      .collect().map(_.getDouble(0))
    val direct = ExternalLm.fromFiles(lm, Some(pieces))
    val expected = Seq(
      direct.score("this is a simple test sentence with common words"),
      direct.score("zq xv jk qqq wxy zzz plgh"))
    assert(scored.toSeq === expected)

    // the 1000-executor form: SparkContext.addFile ships the pair and
    // the UDF resolves via SparkFiles wherever it runs — scores must be
    // identical to the driver-local-path form
    val shipped = graft.scoring.Perplexity.shipAndFilter(spark, lm,
      Some(pieces), 1, 50)
    val docs2 = Seq("this is a simple test sentence with common words")
      .toDF("text")
    val shippedScore = docs2
      .select(shipped.score(org.apache.spark.sql.functions.col("text"))
        .as("s")).collect()(0).getDouble(0)
    assert(shippedScore === expected.head)

    // the cc_net bucketing composition accepts the external scorer too:
    // every row lands in a bucket, and single-doc-per-tercile determinism
    // holds for the exact path
    val corpus = Seq((1L, "this is a simple test sentence"),
      (2L, "zq xv jk qqq wxy"), (3L, "common words appear here"))
      .toDF("doc_id", "text")
    val buckets = graft.scoring.Buckets.ccnetBuckets(corpus, "text",
      "doc_id", exact = true, scorer = f.score)
      .select("bucket").collect().map(_.getString(0)).toSet
    assert(buckets === Set("head", "middle", "tail"))

    // r17: binary .model ingestion end-to-end through the CONFIG path —
    // serialize the shipped text table into a ModelProto with
    // trainer_spec.model_type=UNIGRAM, point pieces_path at it with NO
    // lm_segment, and the default must be the model's own algorithm
    // (viterbi), scoring identically to the explicit viterbi text-table
    // filter
    val shippedTable = graft.scoring.SentencePieceTable.fromFile(pieces)
    val modelFile = tmp.resolve("pieces.sp.model")
    java.nio.file.Files.write(modelFile, SpProtoBuilder.model(
      shippedTable.rows.map { case (p, _, s) => (p, s.toFloat, 1) },
      modelType = Some(1)))
    val fBin = graft.text.Filters.fromConfig("check_perplexity",
      Map("lm_path" -> lm, "pieces_path" -> modelFile.toString,
        "min_perplexity_threshold" -> 1, "max_perplexity_threshold" -> 50))
    val binScores = docs
      .select(fBin.score(org.apache.spark.sql.functions.col("text"))
        .as("s")).collect().map(_.getDouble(0)).toSeq
    val vit = ExternalLm.fromFiles(lm, Some(pieces), segMode = "viterbi")
    assert(binScores === Seq(
      vit.score("this is a simple test sentence with common words"),
      vit.score("zq xv jk qqq wxy zzz plgh")),
      ".model ingestion must default to the proto's own model_type " +
        "(unigram → viterbi)")

    // r17 second pass: a compiled .glm through the SAME config seam —
    // lm_path sniffs the magic (ExternalLm.loadModel) and the filter
    // must score bit-identically to the text-ARPA form of itself
    val glm = tmp.resolve("model.glm").toString
    graft.scoring.PackedLm.compileFile(lm, glm)
    val fGlm = graft.text.Filters.fromConfig("check_perplexity",
      Map("lm_path" -> glm, "pieces_path" -> pieces,
        "min_perplexity_threshold" -> 1, "max_perplexity_threshold" -> 50))
    val glmScores = docs
      .select(fGlm.score(org.apache.spark.sql.functions.col("text"))
        .as("s")).collect().map(_.getDouble(0)).toSeq
    assert(glmScores === scored.toSeq,
      "lm_path must accept a compiled .glm and score bit-identically")
  }

  // --- r17: binary ModelProto ingestion (VERDICT r16 #1) ---

  /** Hand-rolled protobuf wire-format writer — the test builds a tiny
    * ModelProto byte-for-byte so the parser is pinned against the PUBLIC
    * format (sentencepiece_model.proto), not against itself.
    */
  object SpProtoBuilder {
    def varint(v: Long): Array[Byte] = {
      var x = v
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      while ((x & ~0x7fL) != 0) {
        out += ((x & 0x7f) | 0x80).toByte; x >>>= 7
      }
      out += (x & 0x7f).toByte
      out.toArray
    }
    def lenField(field: Int, payload: Array[Byte]): Array[Byte] =
      varint((field << 3) | 2) ++ varint(payload.length) ++ payload
    def strField(field: Int, s: String): Array[Byte] =
      lenField(field, s.getBytes("UTF-8"))
    def floatField(field: Int, f: Float): Array[Byte] = {
      val bits = java.lang.Float.floatToIntBits(f)
      varint((field << 3) | 5) ++ Array(
        (bits & 0xff).toByte, ((bits >> 8) & 0xff).toByte,
        ((bits >> 16) & 0xff).toByte, ((bits >> 24) & 0xff).toByte)
    }
    def enumField(field: Int, v: Int): Array[Byte] =
      varint((field << 3) | 0) ++ varint(v)
    /** (piece, score, type); type < 0 omits the field (proto default
      * NORMAL=1).
      */
    def model(pieces: Seq[(String, Float, Int)],
        modelType: Option[Int]): Array[Byte] = {
      val pieceMsgs = pieces.flatMap { case (p, sc, t) =>
        lenField(1, strField(1, p) ++ floatField(2, sc) ++
          (if (t >= 0) enumField(3, t) else Array.empty[Byte]))
      }.toArray
      val trainer = modelType.map { mt =>
        // field 1 (input, string) included so the parser exercises its
        // skip path; field 3 is model_type
        lenField(2, strField(1, "corpus.txt") ++ enumField(3, mt))
      }.getOrElse(Array.empty[Byte])
      pieceMsgs ++ trainer
    }
  }

  test("ModelProto round-trip: an in-test hand-built .model parses to " +
      "the text-table twin — scores, maxPieceLen, segmentation, " +
      "model_type; control/unknown/byte pieces excluded from matching") {
    val proto = SpProtoBuilder.model(Seq(
      ("<unk>", 0f, 2),         // UNKNOWN — excluded
      ("<s>", 0f, 3),           // CONTROL — excluded
      ("</s>", 0f, 3),          // CONTROL — excluded
      ("<0x41>", -20f, 6),      // BYTE fallback — excluded
      ("▁the", -1.0f, -1),      // type field absent → NORMAL default
      ("▁th", -1.5f, 1),
      ("▁t", -2.0f, 1),
      ("he", -2.2f, 1),
      ("re", -2.5f, 1),
      ("▁he", -2.1f, 4)),       // USER_DEFINED — included
      modelType = Some(1))
    val t = graft.scoring.SentencePieceTable.fromModelBytes(proto)
    val twin = table("▁the" -> -1.0, "▁th" -> -1.5, "▁t" -> -2.0,
      "he" -> -2.2, "re" -> -2.5, "▁he" -> -2.1)
    assert(t.modelType === Some("unigram"))
    assert(t.size === twin.size)
    assert(t.maxPieceLen === twin.maxPieceLen)
    assert(!t.contains("<s>") && !t.contains("<unk>") &&
      !t.contains("<0x41>"),
      "control/unknown/byte pieces must not match raw text")
    assert(t.score("▁the") === Some(-1.0))
    assert(t.segmentLine("the here") === twin.segmentLine("the here"))
    assert(t.segmentViterbi("the here") === twin.segmentViterbi("the here"))
    // a literal "<s>" in user text segments as codepoints, not as the
    // control piece
    assert(!t.segmentLine("<s>").contains("<s>") ||
      t.segmentLine("<s>").forall(p => p.codePointCount(0, p.length) == 1))
  }

  test("fromFileAuto sniffs format: proto bytes → binary parse, text " +
      "vocab → text parse, text starting with a blank line still text") {
    val tmp = freshDir("sp_sniff")
    val proto = SpProtoBuilder.model(
      Seq(("▁ab", -1.0f, 1), ("cd", -2.0f, 1)), modelType = Some(2))
    val pModel = tmp.resolve("t.sp.model")
    java.nio.file.Files.write(pModel, proto)
    val bin = graft.scoring.SentencePieceTable.fromFileAuto(pModel.toString)
    assert(bin.modelType === Some("bpe"))
    assert(bin.contains("▁ab") && bin.contains("cd"))

    val pText = tmp.resolve("t.vocab")
    java.nio.file.Files.write(pText, "▁ab\t-1.0\ncd\t-2.0\n".getBytes("UTF-8"))
    val txt = graft.scoring.SentencePieceTable.fromFileAuto(pText.toString)
    assert(txt.modelType === None)
    assert(txt.score("▁ab") === Some(-1.0))

    // hostile: a text export with a leading blank line starts with the
    // proto magic byte 0x0A — the failed proto walk must fall back
    val pBlank = tmp.resolve("blank.vocab")
    java.nio.file.Files.write(pBlank, "\n▁ab\t-1.0\n".getBytes("UTF-8"))
    val blank = graft.scoring.SentencePieceTable.fromFileAuto(pBlank.toString)
    assert(blank.score("▁ab") === Some(-1.0))
  }

  // --- r17: BPE merge-rank segmentation (VERDICT r16 #2) ---

  test("BPE segmentation golden (hand-derived, Sennrich-style): merges " +
      "apply lowest-rank-first and differ from greedy longest-match") {
    // scores are negated merge ranks: lo(-1), low(-2), er(-3), ▁low(-4);
    // ▁lowe(-0.5) is reachable by greedy's longest match but NOT by BPE
    // (no merge chain builds it)
    val t = table("▁lowe" -> -0.5, "lo" -> -1.0, "low" -> -2.0,
      "er" -> -3.0, "▁low" -> -4.0)
    // hand-derivation for "lower" → marked ▁lower:
    //   ▁ l o w e r  --lo-->  ▁ lo w e r  --low-->  ▁ low e r
    //   --er-->  ▁ low er  --▁low-->  ▁low er   (no further merges)
    assert(t.segmentBpe("lower") === Seq("▁low", "er"))
    // greedy grabs the longest piece instead and falls back on 'r'
    assert(t.segmentLine("lower") === Seq("▁lowe", "r"))
  }

  test("BPE merges all non-overlapping occurrences L→R and never " +
      "crosses word boundaries; concatenation invariant holds") {
    val t = table("aa" -> -1.0, "▁x" -> -2.0)
    // ▁ a a a: merge aa at the leftmost position only once (the third a
    // has no partner), ▁ stays unmerged (▁a not in vocab)
    assert(t.segmentBpe("aaa") === Seq("▁", "aa", "a"))
    // two words: pieces never span the ▁ boundary between them
    assert(t.segmentBpe("x x") === Seq("▁x", "▁x"))
    // concatenation invariant (same contract as greedy/viterbi)
    val rnd = new scala.util.Random(3)
    (1 to 100).foreach { _ =>
      val line = Seq.fill(rnd.nextInt(25))(
        "abcde ".charAt(rnd.nextInt(6))).mkString
      val pieces = Seq.fill(rnd.nextInt(20) + 1) {
        val len = rnd.nextInt(4) + 1
        Seq.fill(len)("abcde▁".charAt(rnd.nextInt(6))).mkString ->
          -(rnd.nextInt(200) / 10.0 + 0.1)
      }
      val tt = table(pieces: _*)
      val b = tt.segmentBpe(line)
      val expected = if (line.isEmpty) "" else "▁" + line.replace(' ', '▁')
      assert(b.mkString === expected, s"line='$line' bpe=$b")
    }
  }

  test("lm_segment: bpe routes through config and segment(mode) " +
      "dispatches all three modes") {
    val t = table("▁ab" -> -1.0, "ab" -> -2.0)
    assert(t.segment("ab", "greedy") === t.segmentLine("ab"))
    assert(t.segment("ab", "viterbi") === t.segmentViterbi("ab"))
    assert(t.segment("ab", "bpe") === t.segmentBpe("ab"))
    val bad = intercept[IllegalArgumentException] {
      t.segment("ab", "bppe")
    }
    assert(bad.getMessage.contains("lm_segment"))
  }

  // --- r17: whole-doc pieces-path semantics (ADVICE r16 medium) ---

  test("pieces path scores the WHOLE doc as one chain: \\n removed " +
      "(lines concatenate, no space), whitespace collapsed, single +1 " +
      "— the reference's exact get_perplexity shape") {
    val tmp = freshDir("extlm_ml")
    def dump(res: String, name: String): String = {
      val in = getClass.getClassLoader.getResourceAsStream(res)
      val p = tmp.resolve(name)
      java.nio.file.Files.copy(in, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      in.close()
      p.toString
    }
    val scorer = ExternalLm.fromFiles(
      dump("graft/graft-en-sp.arpa", "model.arpa"),
      Some(dump("graft/graft-en.pieces", "pieces.vocab")))
    // kenlm_model.py:71-73: \n is in non_printing_chars_re — normalize
    // DELETES it, so "bar\nbaz" becomes the single word "barbaz"
    assert(scorer.score("foo bar\nbaz qux") ===
      scorer.score("foo barbaz qux"))
    // SP default remove_extra_whitespaces: space runs collapse
    assert(scorer.score("foo  bar") === scorer.score("foo bar"))
    // single +1 over the whole stream: replay the chain by hand
    val doc = "this is\na test"
    val norm = graft.scoring.CcNetNormalizer.normalize(doc)
    val oneLine = norm.replace("\n", "").replaceAll("  +", " ").trim
    val toks = scorer.pieces.get.segment(oneLine, scorer.segMode)
    val expected = math.rint(math.pow(10.0,
      -scorer.model.scoreTokens(toks.iterator) / (toks.length + 1L))
      * 10.0) / 10.0
    assert(scorer.score(doc) === expected)
    // the per-line ArpaScorer-compat contract is UNCHANGED for
    // pieces=None (the degenerate-superset spec above pins it)
  }
}
