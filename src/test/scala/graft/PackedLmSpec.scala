package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.scoring.{ArpaModel, ArpaScorer, ExternalLm, PackedLm}

/** r17: the compiled `.glm` LM — [[PackedLm]] must answer every query
  * BIT-identically to the text-map [[ArpaModel]] it was compiled from
  * (same doubles, same addition order), including the hostile shapes a
  * pruned ARPA can have: n-grams whose (n−1)-gram prefix is not listed,
  * words that appear only inside higher-order grams, missing `<s>`,
  * explicit 0.0 backoffs, OOV queries, empty token streams.
  */
class PackedLmSpec extends AnyFunSuite with SharedSession {

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def arpaLines(uni: Seq[(String, Double, Option[Double])],
      bi: Seq[(String, Double, Option[Double])] = Nil,
      tri: Seq[(String, Double, Option[Double])] = Nil,
      quad: Seq[(String, Double)] = Nil): Seq[String] = {
    def row(g: String, p: Double, bo: Option[Double]) =
      s"$p\t$g" + bo.map(b => s"\t$b").getOrElse("")
    Seq("\\data\\", s"ngram 1=${uni.size}", "", "\\1-grams:") ++
      uni.map((row _).tupled) ++ Seq("", "\\2-grams:") ++
      bi.map((row _).tupled) ++ Seq("", "\\3-grams:") ++
      tri.map((row _).tupled) ++ Seq("", "\\4-grams:") ++
      quad.map { case (g, p) => s"$p\t$g" } ++ Seq("", "\\end\\")
  }

  private def arpa(uni: Seq[(String, Double, Option[Double])],
      bi: Seq[(String, Double, Option[Double])] = Nil,
      tri: Seq[(String, Double, Option[Double])] = Nil,
      quad: Seq[(String, Double)] = Nil): ArpaModel =
    ArpaModel.parse(arpaLines(uni, bi, tri, quad).iterator)

  /** Every doc must score bit-identically across all THREE paths: the
    * text-map model, fromArpa(text), and the streaming compileLines.
    */
  private def assertParity(lines: Seq[String],
      docs: Seq[Seq[String]]): Unit = {
    val text = ArpaModel.parse(lines.iterator)
    val packed = PackedLm.fromArpa(text)
    val streamed = PackedLm.compileLines(lines.iterator)
    docs.foreach { toks =>
      val a = text.scoreTokens(toks.iterator)
      val b = packed.scoreTokens(toks.iterator)
      val c = streamed.scoreTokens(toks.iterator)
      assert(bits(a) === bits(b), s"fromArpa: toks=$toks text=$a packed=$b")
      assert(bits(a) === bits(c), s"streamed: toks=$toks text=$a got=$c")
    }
  }

  test("hand model with pruned-ARPA gaps: trigram without its bigram, " +
      "quadgram without its trigram, word only inside a bigram — " +
      "bit-exact parity on every query shape") {
    val lines = arpaLines(
      uni = Seq(("<unk>", -3.0, Some(-0.4)), ("<s>", -99.0, Some(-0.7)),
        ("</s>", -1.9, None), ("a", -1.1, Some(-0.3)),
        ("b", -1.4, Some(0.0)), ("c", -1.6, None)),
      // "ghost" appears ONLY here: queried as a token it must unk-map
      bi = Seq(("<s> a", -0.5, Some(-0.2)), ("a b", -0.6, Some(-0.25)),
        ("b ghost", -2.5, None), ("b c", -0.9, Some(-0.1))),
      // "a c b" has no "a c" bigram listed — structural chaining
      tri = Seq(("<s> a b", -0.3, Some(-0.15)), ("a c b", -1.2, None),
        ("a b c", -0.7, Some(-0.05))),
      // "b a b c" has no "b a b" trigram (nor "b a" bigram) listed
      quad = Seq(("<s> a b c", -0.2), ("b a b c", -1.5)))
    val m = ArpaModel.parse(lines.iterator)
    val docs = Seq(
      Seq("a", "b", "c"), Seq("a", "b", "c", "a", "b", "c"),
      Seq("ghost"), Seq("b", "ghost", "c"), Seq("zzz", "a"),
      Seq("a", "c", "b"), Seq("b", "a", "b", "c"), Seq.empty,
      Seq("c", "c", "c", "c", "c"), Seq("<s>", "</s>", "a"))
    assertParity(lines, docs)
    val p = PackedLm.fromArpa(m)
    // logical counts exclude structural fillers
    assert(p.vocabSize === m.vocabSize)
    assert(p.bigramCount === m.bigramCount)
    assert(p.trigramCount === m.trigramCount)
    assert(p.quadgramCount === m.quadgramCount)
    // ghost is physically present but must not be a vocab word
    val (nWords, nBi, nTri, _) = p.packedCounts
    assert(nWords === 7) // 6 real + ghost
    assert(nBi === 6)    // 4 real + structural "a c" and "b a"
    assert(nTri === 4)   // 3 real + structural "b a b"
    // the streaming compiler lands on the same logical shape
    assert(PackedLm.compileLines(lines.iterator).packedCounts
      === p.packedCounts)
  }

  test("missing <s> unigram: the BOS context still chains through " +
      "grams that name it, exactly like the text path's raw string key") {
    val lines = arpaLines(
      uni = Seq(("<unk>", -3.0, None), ("</s>", -1.9, None),
        ("a", -1.1, Some(-0.3))),
      bi = Seq(("<s> a", -0.4, None))) // <s> is structural here
    assertParity(lines, Seq(Seq("a"), Seq("a", "a"), Seq.empty))
  }

  test("duplicate gram rows resolve per-field like the text maps: a " +
      "later backoff-less duplicate overwrites the prob but keeps the " +
      "earlier backoff") {
    val lines = arpaLines(
      uni = Seq(("<unk>", -3.0, None), ("</s>", -1.9, None),
        ("a", -1.0, Some(-0.3)), ("a", -1.2, None), // dup unigram
        ("b", -1.4, None)),
      bi = Seq(("a b", -0.6, Some(-0.25)), ("a b", -0.7, None),
        ("b a", -0.5, None), ("b a", -0.55, Some(-0.11))),
      tri = Seq(("a b a", -0.4, Some(-0.15)), ("a b a", -0.45, None)))
    // the dup'd backoff(a b) = -0.25 (earlier, listed) with prob -0.7
    // (later) is exactly the divergence the review flagged: backing off
    // from the unseen trigram "a b b" must add -0.25, not 0.0
    assertParity(lines, Seq(Seq("a", "b", "b"), Seq("a", "b", "a"),
      Seq("b", "a", "b"), Seq("a"), Seq.empty))
  }

  test("seeded fuzz: random gapped models × random docs (incl. OOV and " +
      "empty) are bit-exact between text and packed") {
    val rnd = new scala.util.Random(20260815L)
    val baseWords = Array("a", "b", "c", "d", "e", "f", "g", "h")
    (1 to 40).foreach { trial =>
      def p(): Double = -(rnd.nextDouble() * 5 + 0.01)
      def bo(): Option[Double] =
        if (rnd.nextBoolean()) Some(-(rnd.nextDouble() * 2)) else None
      // word pool for grams is WIDER than the unigram list, so some
      // gram members are structural-only
      val uniWords = Seq("<unk>") ++
        (if (rnd.nextBoolean()) Seq("<s>") else Nil) ++
        (if (rnd.nextBoolean()) Seq("</s>") else Nil) ++
        baseWords.take(3 + rnd.nextInt(4))
      def pick(): String = baseWords(rnd.nextInt(baseWords.length))
      // duplicate gram rows stay IN (no distinctBy): the text maps
      // resolve them per-field (prob last-wins, backoff last-LISTED)
      // and the compilers must land on the same resolution
      val uni = uniWords.distinct.map(w => (w, p(), bo()))
      val bi = Seq.fill(rnd.nextInt(14))(
        (s"${pick()} ${pick()}", p(), bo()))
      val tri = Seq.fill(rnd.nextInt(14))(
        (s"${pick()} ${pick()} ${pick()}", p(), bo()))
      val quad = Seq.fill(rnd.nextInt(14))(
        (s"${pick()} ${pick()} ${pick()} ${pick()}", p()))
      val lines = arpaLines(uni, bi, tri, quad)
      val docs = Seq.fill(15)(Seq.fill(rnd.nextInt(10))(
        if (rnd.nextInt(5) == 0) "oov" + rnd.nextInt(3) else pick()))
      try assertParity(lines, docs :+ Seq.empty)
      catch {
        case e: Throwable =>
          fail(s"trial $trial: ${e.getMessage}", e)
      }
    }
  }

  test("file round-trip: write → read preserves every query bit-exactly," +
      " and compilation is byte-deterministic") {
    val tmp = freshDir("glm")
    val m = ArpaScorer.model // shipped 24k-vocab 4-gram model
    val packed = PackedLm.fromArpa(m)
    val f1 = tmp.resolve("a.glm").toString
    val f2 = tmp.resolve("b.glm").toString
    PackedLm.write(packed, f1)
    PackedLm.write(PackedLm.fromArpa(m), f2)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f1)),
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f2))),
      "same ARPA must compile to byte-identical .glm")
    val loaded = PackedLm.read(f1)
    assert(loaded.vocabSize === m.vocabSize)
    assert(loaded.quadgramCount === m.quadgramCount)
    Seq("the quick brown fox", "this software is provided as is",
      "zzzunseen words only zzz", "").foreach { line =>
      assert(bits(loaded.score(line)) === bits(m.score(line)), line)
    }
  }

  test("loadModel sniffs the format: .glm → PackedLm, text → ArpaModel," +
      " and a fromFiles scorer over the .glm matches the text pair " +
      "exactly (the lm_path config seam)") {
    val tmp = freshDir("glmsniff")
    val arpaFile = tmp.resolve("m.arpa").toString
    val glmFile = tmp.resolve("m.glm").toString
    val in = getClass.getClassLoader
      .getResourceAsStream("graft/graft-en-sp.arpa")
    java.nio.file.Files.copy(in, java.nio.file.Paths.get(arpaFile))
    in.close()
    PackedLm.compileFile(arpaFile, glmFile)
    assert(ExternalLm.loadModel(glmFile).isInstanceOf[PackedLm])
    assert(ExternalLm.loadModel(arpaFile).isInstanceOf[ArpaModel])
    val piecesFile = tmp.resolve("p.vocab").toString
    val pin = getClass.getClassLoader
      .getResourceAsStream("graft/graft-en.pieces")
    java.nio.file.Files.copy(pin, java.nio.file.Paths.get(piecesFile))
    pin.close()
    val sText = ExternalLm.fromFiles(arpaFile, Some(piecesFile))
    val sGlm = ExternalLm.fromFiles(glmFile, Some(piecesFile))
    Seq("The quick brown fox jumps over 12 lazy dogs.",
      "multi\nline\ndocument with  runs", "").foreach { doc =>
      assert(bits(sGlm.score(doc)) === bits(sText.score(doc)), doc)
    }
  }

  test("streaming compiler: byte-deterministic, and equivalent to " +
      "fromArpa on the shipped model (score-parity; word ids of " +
      "structural-only words may legitimately differ)") {
    val tmp = freshDir("glmstream")
    val res = "graft/graft-en-sp.arpa"
    def lines(): Iterator[String] = {
      val in = getClass.getClassLoader.getResourceAsStream(res)
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
    }
    val s1 = PackedLm.compileLines(lines())
    val s2 = PackedLm.compileLines(lines())
    val f1 = tmp.resolve("s1.glm").toString
    val f2 = tmp.resolve("s2.glm").toString
    PackedLm.write(s1, f1)
    PackedLm.write(s2, f2)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f1)),
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f2))),
      "same ARPA text must stream-compile to byte-identical .glm")
    val viaArpa = PackedLm.fromArpa(ArpaModel.parse(lines()))
    assert(s1.packedCounts === viaArpa.packedCounts)
    Seq("the quick brown fox", "this software is provided as is",
      "unseen zz words", "").foreach { line =>
      assert(bits(s1.score(line)) === bits(viaArpa.score(line)), line)
    }
  }

  test("as-data exports from the packed model replay to the same " +
      "logical tables as the text model (oracle-export parity)") {
    val m = arpa(
      uni = Seq(("<unk>", -3.0, Some(-0.4)), ("a", -1.1, None),
        ("b", -1.4, Some(0.0))),
      bi = Seq(("a b", -0.6, Some(-0.25)), ("b ghost", -2.5, None)),
      tri = Seq(("a c b", -1.2, None)))
    val p = PackedLm.fromArpa(m)
    def norm(rows: Seq[(String, Double, Option[Double])]) =
      rows.map { case (g, pr, bo) => (g, pr, bo.getOrElse(0.0)) }.sorted
    assert(norm(p.uniRows) === norm(m.uniRows))
    assert(norm(p.biRows) === norm(m.biRows))
    assert(norm(p.triRows) === norm(m.triRows))
    assert(p.quadRows.sorted === m.quadRows.sorted)
  }
}
