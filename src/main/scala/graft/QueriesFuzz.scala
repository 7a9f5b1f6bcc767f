package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.{Cleaners, Filters, WordLists}

/** Adversarial-unicode fuzz oracles (VERDICT r6 #5): every cleaner and
  * scalar filter runs over a HOSTILE corpus — astral-plane emoji,
  * combining marks, RTL text + RLM, NEL/LS/PS line breaks, NBSP,
  * C1 controls, cp1252 mojibake, fullwidth forms, ligatures, curly
  * quotes, HTML entities, terminal escapes, vertical tabs — and the
  * DuckDB oracle recomputes the same transforms over the same stored
  * bytes. This is exactly where Spark-vs-DuckDB `length`/`substring`/
  * regex semantics could silently diverge (the reference operates on
  * Python str codepoints: cleaners.py, filters.py); both engines here
  * are codepoint-indexed, and these oracles prove it input by input.
  *
  * The corpus is DETERMINISTIC and scale-independent: N hostile
  * fragments composed 3-at-a-time by index arithmetic into N² rows,
  * written once per run to a parquet side channel that BOTH engines
  * read — so encoding round-trips through parquet (e.g. unpaired
  * surrogates, which UTF-8 cannot carry) equalize before either engine
  * sees the text.
  *
  * Known divergences deliberately NOT probed (documented, not silent):
  * Turkish dotted İ (ICU lowercases to `i` + combining dot, JVM per-char
  * folding to bare `i`; no corpus phrase depends on it) and cc_net
  * accent stripping over arbitrary unicode (engine-bound NFD subset —
  * covered by the injected-char `ccnet_normalize` oracle).
  */
object QueriesFuzz {

  /** (fragment, hand-written ftfy-6 expected output). The expectations
    * are authored from the ftfy pipeline semantics (cleaners.py:5-8
    * order: entity unescape → terminal escapes → mojibake repair → C1
    * controls → ligatures/fullwidth/quotes → line breaks →
    * surrogate+control sweep → NFC), NOT generated by the
    * implementation — `fuzz_cleaners.c1` is a golden-vector oracle; the
    * other columns recompute in SQL.
    */
  private[graft] val Fragments: Seq[(String, String)] = Seq(
    // plain anchors (one carrying an ethics-filter needle)
    ("hello world. ", "hello world. "),
    ("the quick brown fox jumps. ", "the quick brown fox jumps. "),
    ("MIXED Case Stuff! ", "MIXED Case Stuff! "),
    ("As an AI language model I cannot. ",
      "As an AI language model I cannot. "),
    // mojibake: UTF-8 of "été " seen through cp1252 → repaired
    ("Ã©tÃ© ", "été "),
    // mojibake through LATIN-1 (carries a raw C1 codepoint — cp1252's
    // 0x81 hole — so only the latin-1 round-trip can repair it)
    ("Ãngel ", "Ángel "),
    // real high-latin text must NOT be "repaired" (round-trip fails)
    ("ÄÖÜ umlauts ", "ÄÖÜ umlauts "),
    // latin ligatures
    ("ﬁﬂ ligatures ", "fifl ligatures "),
    ("Ĳssel ", "IJssel "),
    ("ﬆop ﬅ ", "stop st "),
    // fullwidth forms → ASCII
    ("ｆｕｌｌｗｉｄｔｈ！ ",
      "fullwidth! "),
    ("１２３ digits ", "123 digits "),
    // curly quotes → ASCII
    ("“curly” ‘quotes’ ", "\"curly\" 'quotes' "),
    // combining mark → NFC composes (input is a + U+0301, two codepoints)
    ("á combining ", "á combining "),
    // LS/PS and CRLF/CR line breaks → \n
    ("line sep para ", "line\nsep\npara "),
    ("crlf\r\nend\r ", "crlf\nend\n "),
    // control chars: BEL dropped, DEL dropped, \x0B dropped (\t kept)
    ("tab\therebell ", "tab\therebell "),
    ("delchar ", "delchar "),
    ("vtab ", "vtab "),
    // HTML entities (no raw '<' → ftfy auto-unescape fires)
    ("&amp;&gt; and ", "&> and "),
    // ANSI terminal escape removed
    ("esc[31mred ", "escred "),
    // C1 controls reinterpreted as cp1252 (\x85 → …, \x91/\x92 →
    // curly quotes → then uncurled); the cp1252 hole \x81 stays
    ("nelline ", "nel…line "),
    ("xq ", "x'q' "),
    ("holex ", "holex "),
    // SLOPPY-cp1252 mojibake (VERDICT r7 #3): cp1252-only chars AND
    // C1-hole controls in ONE string -- strict cp1252 cannot encode the
    // hole and latin-1 cannot encode the cp1252-only chars, so only the
    // sloppy-windows-1252 table repairs these. U+1D11E (bytes F0 9D 84
    // 9E), U+1F44D (F0 9F 91 8D), U+0450 U+2026 (D1 90 E2 80 A6).
    ("\u00F0\u009D\u201E\u017E clef ", "\uD834\uDD1E clef "),
    ("\u00F0\u0178\u2018\u008D ok ", "\uD83D\uDC4D ok "),
    ("\u00D1\u0090\u00E2\u20AC\u00A6 mix ", "\u0450\u2026 mix "),
    // astral plane, RTL + RLM, NBSP, NFC-stable compat chars survive
    ("😀🎉 emoji שלום‏ " +
      "no break ½№2 ",
      "😀🎉 emoji שלום‏ " +
        "no break ½№2 "),
    // restore_byte_a0 (r8): "\u00C3 " SHOULD have been "\u00C3\u00A0"
    // (= UTF-8 C3 A0, "\u00E0") -- an earlier "cleanup" squashed the
    // NBSP byte to a plain space, so only the space->0xA0 restore lets
    // the round-trip fire (the space is consumed -- it IS the restored
    // continuation byte, exactly like ftfy's group-level replace)
    ("\u00C3 la carte ", "\u00E0la carte "),
    // decode_inconsistent_utf8 (r8): a mojibake SPAN inside otherwise
    // sound unicode -- the real astral emoji blocks the whole-string
    // round-trip, the span decoder repairs just "\u00C3\u00AF"
    ("na\u00C3\u00AFve \uD83D\uDE00 ",
      "na\u00EFve \uD83D\uDE00 "),
    // ...and a span carrying a cp1252 HOLE control (8D) next to a real
    // astral char -- needs the sloppy table AND span decoding together
    ("ok \uD83D\uDC4D vs \u00F0\u0178\u2018\u008D ",
      "ok \uD83D\uDC4D vs \uD83D\uDC4D "),
    // replace_lossy_sequences (r8): a curly apostrophe's mojibake
    // "\u00E2\u20AC\u2122" with its middle continuation destroyed by a
    // lossy U+FFFD step -- unrecoverable, the whole group collapses to
    // ONE U+FFFD instead of leaving half-mojibake
    ("lossy\u00E2\uFFFD\u2122x ", "lossy\uFFFDx "),
    // badness stand-in (r8 review): "\u00C9\u201D" is span-shaped but
    // decodes to IPA U+0254 -- the plausibility gate refuses, so clean
    // curly-quoted prose survives (quotes still uncurl downstream)
    ("\u201CCAF\u00C9\u201D nice ", "\"CAF\u00C9\" nice "),
    // \u00D1+space is the Spanish letter-name, not squashed-NBSP
    // mojibake: the C2/C3-only a0-restore lead set leaves it alone
    ("la \u00D1 es \u00D1. ", "la \u00D1 es \u00D1. "),
    // 3-byte a0-restore would turn \u00E0+SP+\u20AC into Samaritan
    // U+0800; the gate on the retry path refuses the rewrite
    ("vendu \u00E0 \u20AC50 ", "vendu \u00E0 \u20AC50 "),
    // per-group span decode: the overlong pseudo-group E0 80 80 cannot
    // decode, but no longer blocks its valid neighbor \u00C3\u00AF
    ("\u00C3\u00AFle \u00E0\u20AC\u20AC \uD83D\uDE00 ",
      "\u00EFle \u00E0\u20AC\u20AC \uD83D\uDE00 "),
    // doubly-encoded mojibake ("\u00E9" through cp1252 TWICE) needs
    // two whole-string repair passes of the 3-pass loop
    ("\u00C3\u0192\u00C2\u00A9t\u00C3\u0192\u00C2\u00A9 ", "\u00E9t\u00E9 "))

  private val N = Fragments.size
  private[graft] val Rows = N * N // N² deterministic compositions

  /** DuckDB expression for an arbitrary string: printable-ASCII runs as
    * quoted literals, everything else (controls, non-ASCII) as chr(cp)
    * splices — survives JSON transport and any parser quirk.
    */
  private[graft] def sqlLit(s: String): String = {
    if (s.isEmpty) return "''"
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val run = new java.lang.StringBuilder
    def flush(): Unit = if (run.length > 0) {
      parts += "'" + run.toString.replace("'", "''") + "'"
      run.setLength(0)
    }
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp >= 0x20 && cp <= 0x7e) run.append(cp.toChar)
      else { flush(); parts += s"chr($cp)" }
      i += Character.charCount(cp)
    }
    flush()
    parts.mkString("||")
  }

  /** With j = i%N and k = (i/N)%N, text(i) = frag(j) + frag(k) +
    * frag((j+k)%N): the N² rows (1369 at the current 37 fragments) enumerate ALL N² (j, k) pairs, so every
    * ordered fragment adjacency occurs at the first junction (and, since
    * (k, (j+k)%N) also ranges over all pairs, at the second) — e.g. a
    * combining mark right after an emoji genuinely appears. (The first
    * cut used three indices that were all functions of i%N, which
    * collapsed the corpus to 24 distinct texts — caught in review; a
    * FuzzSpec distinctness assertion now pins this.) Exported once per
    * run; every fuzz query and its oracle read the bytes on disk.
    */
  private[graft] def corpus(s: SparkSession, dir: String): DataFrame = {
    SideChannel.exportOnce(dir, "fuzz_corpus") {
      val frags = array(Fragments.map(f => lit(f._1)): _*)
      val j = col("fid") % N
      val k = (col("fid") / N) % N
      s.range(Rows).toDF("fid")
        .select(col("fid"),
          element_at(frags, (j + 1).cast("int")).as("frag"),
          concat(
            element_at(frags, (j + 1).cast("int")),
            element_at(frags, (k + 1).cast("int")),
            element_at(frags, ((j + k) % N + 1).cast("int")))
            .as("text"))
        .coalesce(1)
    }
    s.read.parquet(SideChannel.path("fuzz_corpus"))
  }

  private val FuzzTable =
    s"parquet_scan('${SideChannel.sqlPath("fuzz_corpus")}/*.parquet')"

  /** All five cleaners over the hostile corpus in one query: C1 on the
    * bare fragment against the hand-written ftfy goldens, C2-C5 on the
    * composed text with DuckDB recomputing each transform.
    */
  val fuzzCleaners: QueryDef = QueryDef("fuzz_cleaners",
    (s, dir) => corpus(s, dir)
      .select(col("fid"),
        Cleaners.fixUtf8Encoding(col("frag")).as("c1"),
        Cleaners.normalizeWhitespace(col("text")).as("c2"),
        Cleaners.normalizePunctuation(col("text")).as("c3"),
        Cleaners.removeEmptyLines(col("text")).as("c4"),
        Cleaners.cleanNewLines(col("text")).as("c5"))
      .orderBy("fid"),
    Some {
      val exp = Fragments.map(f => sqlLit(f._2)).mkString("[", ", ", "]")
      s"SELECT fid, ($exp)[(fid % $N)::INT + 1] AS c1, " +
        OracleSql.normalizeWhitespace("text") + " AS c2, " +
        OracleSql.normalizePunctuation("text") + " AS c3, " +
        OracleSql.removeEmptyLines("text") + " AS c4, " +
        "replace(" + OracleSql.strip("text") + ", chr(10), '') AS c5 " +
        s"FROM $FuzzTable ORDER BY fid"
    })

  /** The scalar filters over the hostile corpus: scores for F1/F3/F4/F5,
    * keep-booleans (as int) for F7/F9/F10/F11 — every one recomputed by
    * DuckDB from the stored bytes.
    */
  val fuzzFilters: QueryDef = QueryDef("fuzz_filters",
    (s, dir) => corpus(s, dir)
      .select(col("fid"),
        Filters.checkWordNumber().score(col("text")).as("wc"),
        Filters.checkNsfwWords().score(col("text")).as("nsfw"),
        Filters.checkLowercaseRatio().score(col("text")).as("lc_ratio"),
        Filters.checkCharRepetition(5).score(col("text")).as("char_rep"),
        Filters.checkCompletion().score(col("text")).as("completion"),
        Filters.checkEmpty().score(col("text")).as("empty_keep"),
        Filters.checkEthics().score(col("text")).as("ethics"),
        Filters.checkEthicsHarsh().score(col("text")).as("harsh"))
      .orderBy("fid"),
    Some {
      def containsAnySql(e: String, phrases: Array[String]): String =
        phrases.map(p => s"contains($e, ${OracleSql.q(p)})")
          .mkString("(", " OR ", ")")
      val nsfwCnt = WordLists.NsfwWords.map { w =>
        val cp = w.codePointCount(0, w.length)
        s"(length(lt)-length(replace(lt,${OracleSql.q(w)},'')))//$cp"
      }.mkString("CAST(list_sum([", ",", "]) AS BIGINT)")
      s"WITH src AS (SELECT fid, text AS t, lower(text) AS lt FROM " +
        s"$FuzzTable), " +
        OracleSql.charRepetitionCtes("src", Seq("fid"), "t", 5) + ", " +
        s"base AS (SELECT fid, t, lt, ${OracleSql.wordCount("t")} AS wc, " +
        s"($nsfwCnt) AS ncnt FROM src) " +
        "SELECT b.fid, wc, " +
        "CASE WHEN wc > 0 THEN CAST(ncnt AS DOUBLE)/wc ELSE 0.0 END " +
        "AS nsfw, " +
        OracleSql.lowercaseRatio("t") + " AS lc_ratio, " +
        "coalesce(r.ratio, 0.0) AS char_rep, " +
        "CASE WHEN " + OracleSql.completionKeep("t") +
        " THEN 1 ELSE 0 END AS completion, " +
        "CASE WHEN length(" +
        OracleSql.strip("replace(replace(t, '...', ''), chr(8230), '')") +
        ") <> 0 THEN 1 ELSE 0 END AS empty_keep, " +
        "CASE WHEN NOT " + containsAnySql("lt", WordLists.UnwantedWords) +
        " THEN 1 ELSE 0 END AS ethics, " +
        "CASE WHEN NOT " +
        containsAnySql("lt", WordLists.HarshUnwantedWords) +
        " THEN 1 ELSE 0 END AS harsh " +
        "FROM base b LEFT JOIN __cr_ratio r USING (fid) ORDER BY b.fid"
    })

  /** Splitter-based filters (F6 truncation, F8 gender) with hostile
    * separators inside the halves: NBSP glues tokens and LS does not
    * split them in EITHER engine — both sides tokenize on the explicit
    * ASCII whitespace class, mirroring Python `str.split()` whose `\s`
    * here is the reference's effective behavior (see Filters.checkGender
    * and OracleSql.WsClass).
    */
  val fuzzSplitters: QueryDef = QueryDef("fuzz_splitters",
    (s, dir) => {
      val ttok = "<|truncation_splitter|>"
      val gtok = "<|gender_splitter|>"
      val truncDoc = concat(col("text"), lit(ttok),
        when(col("fid") % 2 === 0, substring(col("text"), 1, 12))
          .otherwise(concat(lit(" zq"), substring(col("text"), 1, 8))))
      val genderDoc = concat(
        when(col("fid") % 2 === 0, lit("he went home"))
          .otherwise(lit("he went home")),
        lit(gtok), lit("she stayed put here"))
      corpus(s, dir)
        .select(col("fid"),
          Filters.checkTruncation(ttok).score(truncDoc).as("trunc"),
          Filters.checkGender(gtok).score(genderDoc).as("gender"))
        .orderBy("fid")
    },
    Some {
      val ttok = OracleSql.q("<|truncation_splitter|>")
      val gtok = "<|gender_splitter|>"
      val truncDoc = s"text || $ttok || (CASE WHEN fid%2=0 THEN " +
        "substr(text,1,12) ELSE chr(8232)||'zq'||substr(text,1,8) END)"
      val genderDoc = "(CASE WHEN fid%2=0 THEN 'he'||chr(160)||" +
        s"'went home' ELSE 'he went home' END) || ${OracleSql.q(gtok)} " +
        "|| 'she stayed'||chr(8232)||'put here'"
      val g = "['he','she','him','her','girl','boy']"
      s"SELECT fid, CASE WHEN NOT contains(string_split($truncDoc, $ttok)" +
        s"[1], string_split($truncDoc, $ttok)[2]) THEN 1 ELSE 0 END " +
        "AS trunc, CASE WHEN len(list_filter(range(1, least(len(wa), " +
        s"len(wb))+1), i -> list_contains($g, wa[i]) AND " +
        s"list_contains($g, wb[i]) AND wa[i] <> wb[i])) > 0 THEN 1 " +
        "ELSE 0 END AS gender FROM (SELECT fid, text, " +
        s"list_filter(regexp_split_to_array(lower(string_split(" +
        s"$genderDoc, ${OracleSql.q(gtok)})[1]), " +
        s"'${OracleSql.WsClass}+'), x -> x <> '') AS wa, " +
        s"list_filter(regexp_split_to_array(lower(string_split(" +
        s"$genderDoc, ${OracleSql.q(gtok)})[2]), " +
        s"'${OracleSql.WsClass}+'), x -> x <> '') AS wb " +
        s"FROM $FuzzTable) ORDER BY fid"
    })

  val all: Seq[QueryDef] = Seq(fuzzCleaners, fuzzFilters, fuzzSplitters)
}
