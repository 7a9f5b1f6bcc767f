package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{Cleaners, Filters, GraftTextKernels, StripWs, TextFilter,
  WordLists}

/** The fused single-pass kernels (`GraftTextKernels`) must be
  * bit-identical to the composed column forms they replaced — proven three
  * ways: pure-JVM reference reimplementation of the Python semantics,
  * adversarial hand cases (dot-run modular arithmetic, `…`-separated
  * runs, multi-byte terminals, all-whitespace), and a seeded Spark
  * differential against the ORIGINAL composed expressions over a hostile
  * generated corpus.
  */
class FusedTextSpec extends AnyFunSuite with SharedSession {

  // ---- pure-JVM reference semantics (Python, with the engine's ASCII strip)

  private def asciiStrip(s: String): String = {
    def ws(c: Char) = c == ' ' || (c >= 0x09 && c <= 0x0d)
    var i = 0
    while (i < s.length && ws(s.charAt(i))) i += 1
    var j = s.length
    while (j > i && ws(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  private val punct =
    Set(".", "!", "?", "*", "\"", "”", "~", "…", "'", "]", ")", "`", ";")

  private def refCompleted(s: String): Boolean = {
    val t = asciiStrip(s)
    t.nonEmpty && punct.contains(t.substring(
      t.offsetByCodePoints(t.length, -1)))
  }

  private def refNonEmpty(s: String): Boolean =
    asciiStrip(s.replace("...", "").replace("…", "")).nonEmpty

  private def refCleanNewLines(s: String): String =
    asciiStrip(s).replace("\n", "")

  /** Python-splitlines-intended semantics: split on the boundary set
    * (\r\n as one), drop lines of only space/tab (≡ `^\s*$` — no other \s
    * member can appear inside a line), join with \n.
    */
  private def refRemoveEmptyLines(s: String): String =
    s.split(Cleaners.LineBoundaryRegex, -1)
      .filterNot(_.matches("\\s*"))
      .mkString("\n")

  private def u(s: String): UTF8String = UTF8String.fromString(s)

  private val hostile: Seq[String] = {
    val frags = Seq("", " ", "\t\n\u000B\f\r", ".", "..", "...", "....",
      ".....", "......", ".......", "…", "……", "..….", "…...", ". .",
      "a", "ab.", "ab!", "ab”", "ab…", "ab“", "ab“", "x…y", "😀",
      "😀.", "end)", "end]", "end`", "end;", "end~", "end'", "q\"",
      "tail ", " ", "é", "…\n...", "mid\ndle", "\nx\n",
      "..a.", "a...b", "....x", "..…", "…..", "text... more…done",
      "a\r\nb", "a\rb", "a\u000Bb", "a\u000Cb", "a\u001Cb", "a\u001Db",
      "a\u001Eb", "ab", "a b", "a b", "a\n \t\nb",
      " \t", "\n\n", "a\n", "\na", "a\r\n\r\nb", "x\r", "\r\n",
      "é\n \né", "one\ntwo\nthree", " pad \n\t\n last ")
    val joined = for {
      a <- frags; b <- frags
    } yield a + b
    (frags ++ joined).distinct
  }

  test("isCompleted matches the reference on hostile strings") {
    hostile.foreach { s =>
      assert(GraftTextKernels.isCompleted(u(s)) === refCompleted(s),
        s"for ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("nonEmptyAfterEllipses matches the reference on hostile strings") {
    hostile.foreach { s =>
      assert(GraftTextKernels.nonEmptyAfterEllipses(u(s)) === refNonEmpty(s),
        s"for ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("cleanNewLines matches the reference on hostile strings") {
    hostile.foreach { s =>
      assert(GraftTextKernels.cleanNewLines(u(s)).toString
        === refCleanNewLines(s),
        s"for ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("removeEmptyLines matches the reference on hostile strings") {
    hostile.foreach { s =>
      assert(GraftTextKernels.removeEmptyLines(u(s)).toString
        === refRemoveEmptyLines(s),
        s"for ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("dot-run modular arithmetic: n dots survive iff n % 3 != 0") {
    (0 to 12).foreach { nDots =>
      val s = "." * nDots
      assert(GraftTextKernels.nonEmptyAfterEllipses(u(s)) === (nDots % 3 != 0),
        s"run of $nDots dots")
      // … between runs keeps them separate runs (Python replace order)
      val split = "." * nDots + "…" + "." * nDots
      assert(GraftTextKernels.nonEmptyAfterEllipses(u(split))
        === refNonEmpty(split), s"…-split runs of $nDots")
    }
  }

  test("seeded random fuzz against the reference semantics") {
    val rnd = new scala.util.Random(42)
    val alphabet = ("a. …\n\t”!x😀é " +
      "\r\u000b\u2028\u0085").toCharArray
    (1 to 4000).foreach { _ =>
      val len = rnd.nextInt(24)
      val sb = new StringBuilder
      var k = 0
      while (k < len) {
        val c = alphabet(rnd.nextInt(alphabet.length))
        // keep surrogate pairs whole
        if (!Character.isSurrogate(c)) sb.append(c) else sb.append("😀")
        k += 1
      }
      val s = sb.toString()
      assert(GraftTextKernels.isCompleted(u(s)) === refCompleted(s),
        s"isCompleted for ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      assert(GraftTextKernels.nonEmptyAfterEllipses(u(s)) === refNonEmpty(s),
        s"nonEmpty for ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      assert(GraftTextKernels.cleanNewLines(u(s)).toString
        === refCleanNewLines(s),
        s"cleanNewLines for ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      assert(GraftTextKernels.removeEmptyLines(u(s)).toString
        === refRemoveEmptyLines(s),
        s"removeEmptyLines for ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("wordCount matches the composed regex form, unicode included") {
    val cases = hostile ++ Seq(
      "İstanbul is big", "STRASSE İİ x", "٣٤ ٥٦", "Ⅻ chapters", "½ cup",
      "éclair decómposed", "𝒜𝒷𝒸 script", "a_b c__d _",
      "ΣΙΣΥΦΟΣ myth", "12three_four five!six", "ıIiİ mix",
      "word", "  two  words  ", "под водой", "日本語テキスト",
      "ﬁnancial ligature", "ⅰⅱⅲ small", "〡〢 hangzhou")
    val rows = cases.map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("text", StringType))))
    val composed: Column => Column = c =>
      size(regexp_extract_all(lower(c), lit(Filters.WordClassRegex), lit(0)))
    df.select(col("text"), Filters.wordCount(col("text")).as("fused"),
      composed(col("text")).as("ref")).collect().foreach { r =>
      assert(r.getInt(1) === r.getInt(2),
        s"wordCount for ${r.getString(0).map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("wordTokens matches the composed regex form, token-for-token") {
    val cases = hostile ++ Seq(
      "İstanbul is big", "STRASSE İİ x", "٣٤ ٥٦", "Ⅻ chapters", "½ cup",
      "éclair decómposed", "𝒜𝒷𝒸 script", "a_b c__d _",
      "ΣΙΣΥΦΟΣ myth", "12three_four five!six", "ıIiİ mix",
      "word", "  two  words  ", "под водой", "日本語テキスト",
      "MiXeD CaSe ToKeNs", "digits 123 456_789")
    val rows = cases.map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("text", StringType))))
    val composed: Column => Column = c =>
      regexp_extract_all(lower(c), lit(Filters.WordClassRegex), lit(0))
    df.select(col("text"),
      graft.text.FusedText.wordTokens(col("text")).as("fused"),
      composed(col("text")).as("ref")).collect().foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2),
        s"tokens for ${r.getString(0).map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("wordGrams matches the composed zip_with form, gram-for-gram") {
    val cases = hostile ++ Seq(
      "one", "one two", "one two three four", "İstanbul is big",
      "a_b c__d _", "٣٤ ٥٦ ٧", "под водой глубоко", "MiXeD CaSe ToKeNs")
    val rows = cases.map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("text", StringType))))
    val composed: Column => Column = text => {
      val toks =
        regexp_extract_all(lower(text), lit(Filters.WordClassRegex), lit(0))
      val bigrams = when(size(toks) >= 2,
        zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat(a, lit("_"), b)))
        .otherwise(array().cast("array<string>"))
      concat(toks, bigrams)
    }
    df.select(col("text"),
      graft.text.FusedText.wordGrams(col("text")).as("fused"),
      composed(col("text")).as("ref")).collect().foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2),
        s"grams for ${r.getString(0).map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("lowercaseRatio matches the composed regex form bit-exactly") {
    val cases = hostile ++ Seq("abcXYZ", "éa", "😀ab", "ALLCAPS", "a",
      "aA1_ z", "ऌक्ष abc", "ſlong-s")
    val rows = cases.map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("text", StringType))))
    val composed: Column => Column = c =>
      when(length(c) === 0, lit(0.0))
        .otherwise(length(regexp_replace(c, "[^a-z]", ""))
          .cast(org.apache.spark.sql.types.DoubleType) / length(c))
    df.select(col("text"),
      graft.text.FusedText.lowercaseRatio(col("text")).as("fused"),
      composed(col("text")).as("ref")).collect().foreach { r =>
      // bit-exact: the oracle hashes these score values
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1))
        === java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"ratio for ${r.getString(0).map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("Spark differential: fused columns equal the composed originals") {
    import graft.text.FusedText
    val rows = hostile.map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("text", StringType))))

    // the pre-fusion composed forms, verbatim
    val composedCompletion: Column => Column = c =>
      substring(Cleaners.stripWs(c), -1, 1)
        .isin(graft.text.WordLists.CompletionPunctuations.toIndexedSeq: _*)
    val composedEmpty: Column => Column = c =>
      length(Cleaners.stripWs(
        replace(replace(c, lit("..."), lit("")), lit("…"), lit("")))) =!= 0
    val composedClean: Column => Column = c =>
      replace(StripWs(c), lit("\n"), lit(""))
    val composedRemoveEmpty: Column => Column = c =>
      array_join(
        filter(split(c, Cleaners.LineBoundaryRegex),
          l => !(l rlike "^\\s*$")),
        "\n")

    val got = df.select(
      col("text"),
      Filters.checkCompletion().keep(col("text")).as("f7"),
      composedCompletion(col("text")).as("f7_ref"),
      Filters.checkEmpty().keep(col("text")).as("f9"),
      composedEmpty(col("text")).as("f9_ref"),
      Cleaners.cleanNewLines(col("text")).as("c5"),
      composedClean(col("text")).as("c5_ref"),
      Cleaners.removeEmptyLines(col("text")).as("c4"),
      composedRemoveEmpty(col("text")).as("c4_ref")).collect()

    got.foreach { r =>
      val s = r.getString(0)
      val tag = s.map(c => f"\\u${c.toInt}%04x").mkString
      // composed isin yields null for empty substring('',-1,1)='' vs set;
      // both sides go through the same keep() consumer (null ≡ false in a
      // WHERE), so compare with null→false coercion
      def b(i: Int): Boolean = !r.isNullAt(i) && r.getBoolean(i)
      assert(b(1) === b(2), s"f7 for $tag")
      assert(b(3) === b(4), s"f9 for $tag")
      assert(r.getString(5) === r.getString(6), s"c5 for $tag")
      assert(r.getString(7) === r.getString(8), s"c4 for $tag")
    }
  }

  test("nonAlphaPartsAtLeast ≡ size(split(.., non-alpha, -1)) >= k, " +
      "JVM and Spark differentials") {
    import graft.text.{FusedText, GraftTextKernels}
    val wordy = Seq("foo bar baz_qux 123", "one,two;three", "a_b_c",
      "word", "tab\tsep", "é é é é é", "😀 😀 😀", "five words are not here",
      "x" * 500 + " tail", ("w " * 600).trim)
    val corpus = (hostile ++ wordy).distinct
    // JVM reference: Java regex split, the exact engine Spark's split uses
    corpus.foreach { s =>
      val parts = java.util.regex.Pattern.compile("[^A-Za-z_0-9]")
        .split(s, -1).length
      Seq(1, 2, 3, 5, 8).foreach { k =>
        assert(GraftTextKernels.nonAlphaPartsAtLeast(u(s), k) ===
          (parts >= k),
          s"k=$k parts=$parts for ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      }
    }
    // Spark differential incl. null propagation through the coalesce
    // pattern the dedup trunks use
    val rows = (corpus :+ null).map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("text", StringType))))
    Seq(1, 3, 5).foreach { k =>
      val t = coalesce(col("text"), lit(""))
      val got = df.select(
        FusedText.nonAlphaPartsAtLeast(t, k).as("fused"),
        (size(split(t, "[^A-Za-z_0-9]", -1)) >= k).as("composed")).collect()
      got.foreach(r =>
        assert(r.getBoolean(0) === r.getBoolean(1), s"k=$k row $r"))
    }
  }

  /** Pre-r18 composed form of `C4Filters.cleanLines` — the differential
    * reference of the fused kernel.
    */
  private def cleanLinesComposed(text: Column, minWords: Int = 5): Column =
    array_join(filter(split(coalesce(text, lit("")), "\n"),
      l => graft.analysis.C4Filters.keepLine(l, minWords)), "\n")

  test("c4CleanLines matches the composed line-gate, null included") {
    val lines = Seq(
      "this line has five words.", "this line has five words",
      "four words only here.", "ends with bang and enough words!",
      "ends with q-mark and enough words here?",
      "closing quote with five good words\"",
      "contains javascript but otherwise five words.",
      "contains JavaScript mixed case five words.",
      "contains JAVASCRİPT turkish dotted i five words.",
      "jávascript diacritic does not count five words.",
      "unicode end five words here 😀", "", " ", "\t",
      "five words ending in period café.", "a. b. c. d. e.",
      "exactly five words right here ok.")
    val rnd = new scala.util.Random(5)
    val docs = (1 to 300).map { _ =>
      (0 until rnd.nextInt(6)).map(_ => lines(rnd.nextInt(lines.length)))
        .mkString("\n") + (if (rnd.nextBoolean()) "\n" else "")
    } ++ Seq(null, "", "\n", "\n\n")
    val rows = docs.map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("text", StringType))))
    df.select(col("text"),
      graft.analysis.C4Filters.cleanLines(col("text")).as("fused"),
      cleanLinesComposed(col("text")).as("ref"))
      .collect().foreach { r =>
        assert(r.getString(1) === r.getString(2),
          s"for ${Option(r.getString(0)).getOrElse("<null>").take(60)}")
      }
  }

  test("charRepetition pack-sort ≡ the HashMap reference implementation") {
    import graft.text.CharRepetition
    val rnd = new scala.util.Random(11)
    val alphabets = Seq("ab", "abc😀", "abcdefgh", " .\nxy", "aé😀")
    val cases = hostile ++
      Seq("aaaaaaaaaaaaaaaaaaaaaa", "abcdefghij" * 6, "😀" * 25,
        "ababababababababababab", ("xy" * 30) + ("ab" * 30)) ++
      (1 to 800).map { _ =>
        val alpha = alphabets(rnd.nextInt(alphabets.length))
        val sb = new StringBuilder
        (0 until rnd.nextInt(60)).foreach { _ =>
          val c = alpha.charAt(rnd.nextInt(alpha.length))
          if (Character.isSurrogate(c)) sb.append("😀") else sb.append(c)
        }
        sb.toString()
      }
    Seq(2, 3, 10).foreach { n =>
      cases.foreach { s =>
        val got = CharRepetition.ratio(s, n)
        val ref = CharRepetition.ratioHashMap(s, n)
        assert(java.lang.Double.doubleToLongBits(got)
          === java.lang.Double.doubleToLongBits(ref),
          s"n=$n for ${s.take(40).map(c => f"\\u${c.toInt}%04x").mkString}")
      }
    }
  }

  test("charRepetition expression ≡ the ScalaUDF it replaced, null incl.") {
    import graft.text.{CharRepetition, FusedText}
    val cases = (hostile ++ Seq("aaaaaaaaaaaaaaaaaaaa", "😀" * 12,
      "abcdefghij" * 5, null)).map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(cases, 4),
      StructType(Seq(StructField("text", StringType))))
    val legacyUdf = udf { (s: String) =>
      CharRepetition.ratio(if (s == null) "" else s, 10)
    }
    df.select(col("text"),
      FusedText.charRepetitionRatio(col("text"), 10).as("expr"),
      legacyUdf(col("text")).as("udf")).collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1))
        === java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"for ${Option(r.getString(0)).getOrElse("<null>").take(30)}")
    }
  }

  test("CharMap ascii bail: pure-ascii rows return unchanged, keys map") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("plain ascii text!"),
        org.apache.spark.sql.Row("nb sp and thin")), 2),
      StructType(Seq(StructField("text", StringType))))
    val out = df.select(
      Cleaners.normalizeWhitespace(col("text")).as("t")).collect()
    assert(out(0).getString(0) === "plain ascii text!")
    assert(out(1).getString(0) === "nb sp and thin")
  }

  test("malformed UTF-8 is total and pinned (valid-UTF-8 precondition)") {
    // The kernels assume well-formed UTF-8 (see GraftTextKernels scaladoc:
    // every engine producer validates on ingest). On malformed bytes they
    // must stay TOTAL — no exception, no out-of-bounds — and this test
    // pins the chosen results so a future kernel change on the edge is a
    // conscious decision, not silent drift.
    def u(bs: Int*): UTF8String = UTF8String.fromBytes(bs.map(_.toByte).toArray)
    val loneCont = u(0x80)                      // continuation with no lead
    val truncLead = u(0xe2, 0x80)               // 3-byte lead cut short
    val contAfterAscii = u('a'.toInt, 0x80)     // ascii then stray cont
    val leadAtEnd = u('.'.toInt, 0xf0)          // 4-byte lead, nothing after

    // lowercaseRatio: denominator counts non-continuation bytes, so a
    // LONE continuation byte yields 0 codepoints → 0/0 = NaN (a non-empty
    // but all-continuation input exists only under malformed UTF-8; the
    // composed length() form would have said 0/1). Pinned: NaN, not throw.
    assert(GraftTextKernels.lowercaseRatio(loneCont).isNaN)
    assert(GraftTextKernels.lowercaseRatio(contAfterAscii) === 1.0) // 1 lc / 1 cp
    assert(GraftTextKernels.lowercaseRatio(truncLead) === 0.0)

    // isCompleted: backward scan lands on the stray lead/continuation,
    // which is not terminal punctuation → false; a terminal '.' hidden
    // behind a dangling lead byte is NOT seen (the lead is the last cp).
    assert(!GraftTextKernels.isCompleted(loneCont))
    assert(!GraftTextKernels.isCompleted(truncLead))
    assert(!GraftTextKernels.isCompleted(leadAtEnd))

    // the remaining scan kernels: total, deterministic
    assert(GraftTextKernels.wordCount(loneCont) >= 0)
    assert(GraftTextKernels.nonEmptyAfterEllipses(loneCont)) // non-ws byte
    assert(GraftTextKernels.removeEmptyLines(truncLead).numBytes >= 0)
    assert(GraftTextKernels.cleanNewLines(contAfterAscii).numBytes >= 0)
    assert(GraftTextKernels.c4CleanLines(loneCont, 3).numBytes >= 0)

    // nonAlphaPartsAtLeast counts a lead byte as one separator and skips
    // continuation bytes, so a STRAY continuation is a non-separator —
    // where the regex form decodes it to U+FFFD, a separator. Pinned:
    // parts = 1 + lead bytes + ASCII separators.
    assert(!GraftTextKernels.nonAlphaPartsAtLeast(loneCont, 2))       // 1 part
    assert(GraftTextKernels.nonAlphaPartsAtLeast(truncLead, 2))       // 2 parts
    assert(!GraftTextKernels.nonAlphaPartsAtLeast(truncLead, 3))
    assert(!GraftTextKernels.nonAlphaPartsAtLeast(contAfterAscii, 2)) // 1 part
    assert(GraftTextKernels.nonAlphaPartsAtLeast(leadAtEnd, 3))       // 3 parts
    assert(!GraftTextKernels.nonAlphaPartsAtLeast(leadAtEnd, 4))
  }

  test("null propagates: null in, null out") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(org.apache.spark.sql.Row(null: String)), 1),
      StructType(Seq(StructField("text", StringType))))
    import graft.text.FusedText
    val r = df.select(
      FusedText.checkCompletion(col("text")),
      FusedText.checkEmpty(col("text")),
      FusedText.cleanNewLines(col("text"))).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  // ---- F8 check_gender fused kernel (r19) ----

  /** Pure-JVM reference of the composed form's semantics: literal split
    * (limit -1), first two parts, DEFAULT-LOCALE lower (what Spark's
    * `lower` does through UTF8String.toLowerCase on non-ASCII),
    * `\s+`-split with empties dropped, positional compare to min length.
    */
  private def refGender(doc: String, tok: String): Boolean = {
    val parts = doc.split(java.util.regex.Pattern.quote(tok), -1)
    val g = graft.text.WordLists.GenderedWords.toSet
    def toks(h: String): Array[String] =
      h.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val a = toks(parts(0))
    val b = toks(parts(1))
    (0 until math.min(a.length, b.length)).exists(i =>
      g(a(i)) && g(b(i)) && a(i) != b(i))
  }

  /** Pre-fusion composed form of `Filters.checkGender` (r18 shape), the
    * differential reference — requires the splitter present in every row
    * (`element_at(parts, 2)` is an ANSI error otherwise).
    */
  private def checkGenderComposed(
      splitter: String = "<|gender_splitter|>"): TextFilter = {
    def keepF(c: Column): Column = {
      val parts = split(c, java.util.regex.Pattern.quote(splitter))
      val g = WordLists.GenderedWords.toIndexedSeq
      def toks(half: Column): Column =
        filter(split(lower(half), "\\s+"), w => length(w) > 0)
      val a = toks(element_at(parts, 1))
      val b = toks(element_at(parts, 2))
      val n = least(size(a), size(b))
      exists(zip_with(slice(a, lit(1), n), slice(b, lit(1), n), (x, y) =>
        x.isin(g: _*) && y.isin(g: _*) && x =!= y), p => p)
    }
    TextFilter("check_gender",
      score = c => keepF(c).cast(IntegerType), keep = keepF)
  }

  test("genderConflict ≡ composed zip_with form ≡ JVM reference") {
    val tok = "<S>"
    val words = Seq("he", "she", "him", "her", "girl", "boy", "HE", "She",
      "hIm", "HER", "GIRL", "BoY", "x", "zz", "hello", "hé", "Hİ", "HİM",
      "Kim", "boy.", "?her", "girĺ")
    val seps = Seq(" ", "\t", "\n", "  ", "\r\n", " \u000B ")
    val rnd = new scala.util.Random(20190816)
    def half(): String = {
      val n = rnd.nextInt(7)
      val body = Seq.fill(n)(words(rnd.nextInt(words.length)))
        .mkString(seps(rnd.nextInt(seps.length)))
      (if (rnd.nextBoolean()) " " else "") + body +
        (if (rnd.nextBoolean()) "\t" else "")
    }
    val docs = Seq.tabulate(600) { i =>
      if (i % 7 == 0) half() + tok + half() + tok + half() // 3 parts
      else half() + tok + half()
    } ++ Seq(
      s"${tok}she went", s"he went$tok", tok, s"$tok$tok",
      s"he$tok she", s" he ${tok} she ", s"he she$tok she he",
      s"HİM him$tok him HİM", s"Ke he$tok he she")

    val rows = docs.map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("text", StringType))))
    val got = df.select(col("text"),
      Filters.checkGender(tok).keep(col("text")).as("fused"),
      checkGenderComposed(tok).keep(col("text")).as("composed"))
      .collect()
    got.foreach { r =>
      val s = r.getString(0)
      val tag = s.map(c => f"\\u${c.toInt}%04x").mkString
      def b(i: Int): Boolean = !r.isNullAt(i) && r.getBoolean(i)
      assert(b(1) === b(2), s"fused vs composed for $tag")
      assert(b(1) === refGender(s, tok), s"fused vs JVM ref for $tag")
    }
    // sanity: the corpus actually exercises both outcomes
    assert(got.exists(r => !r.isNullAt(1) && r.getBoolean(1)))
    assert(got.exists(r => !r.isNullAt(1) && !r.getBoolean(1)))
  }

  test("genderConflict pins splitter-absent → NULL and null-propagation") {
    // the composed form cannot evaluate a splitter-less row at all
    // (element_at index 2 of a 1-element array is an ANSI error), so the
    // fused kernel's choice — NULL, which every keep() consumer treats as
    // drop — is pinned here fused-only
    val rows = Seq("he she him no splitter here", "", null)
      .map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("text", StringType))))
    val got = df.select(
      Filters.checkGender("<S>").keep(col("text"))).collect()
    assert(got.forall(_.isNullAt(0)))
    // real-token smoke on the default splitter
    val d2 = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        "he went<|gender_splitter|>she went")), 1),
      StructType(Seq(StructField("text", StringType))))
    assert(d2.select(Filters.checkGender().keep(col("text")))
      .head().getBoolean(0))
  }
}
