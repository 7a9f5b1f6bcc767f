package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.{Cleaners, Filters, WordLists}

/** Text-domain oracle queries: the reference's cleaners and filters
  * (SURVEY §2.3-2.4), PII redaction, chunking, BPE and HTML extraction,
  * and the adversarial-unicode fuzz corpus run through every cleaner and
  * filter. documents.text is clean lowercase word soup, so each query
  * injects the structures it exercises (unicode, case, splitters,
  * phrases) IDENTICALLY in Spark and DuckDB — the oracle compares the
  * full transform, not just happy paths.
  */
object QueriesText {

  private def docs(s: SparkSession, dir: String) =
    Queries.table(s, dir, "documents")

  import OracleSql.q

  private val d = "doc_id"

  // ---- cleaners (SURVEY §2.3) ----

  private val c1 = QueryDef("c1_fix_utf8",
    (s, dir) => docs(s, dir)
      .select(col(d), Cleaners.fixUtf8Encoding(
        concat(col("text"), lit(" cafe"), lit("́"))).as("cleaned"))
      .orderBy(d),
    Some("SELECT doc_id, nfc_normalize(text || ' cafe' || chr(769)) AS cleaned " +
      "FROM documents ORDER BY doc_id"))

  private val c2 = QueryDef("c2_normalize_whitespace",
    (s, dir) => docs(s, dir)
      .select(col(d), Cleaners.normalizeWhitespace(
        when(col(d) % 3 === 0, replace(col("text"), lit(" "), lit(" ")))
          .otherwise(col("text"))).as("cleaned"))
      .orderBy(d),
    Some("SELECT doc_id, " + OracleSql.normalizeWhitespace(
      "CASE WHEN doc_id%3=0 THEN replace(text,' ',chr(8201)) ELSE text END") +
      " AS cleaned FROM documents ORDER BY doc_id"))

  private val c3 = {
    val injected = Cleaners.PunctOneToOne.map(_._1).mkString +
      Cleaners.PunctOneToMany.map(_._1).mkString
    QueryDef("c3_normalize_punctuation",
      (s, dir) => docs(s, dir)
        .select(col(d), Cleaners.normalizePunctuation(
          concat(col("text"), lit(injected))).as("cleaned"))
        .orderBy(d),
      Some("SELECT doc_id, " +
        OracleSql.normalizePunctuation(s"text || ${q(injected)}") +
        " AS cleaned FROM documents ORDER BY doc_id"))
  }

  /** Injects every Python-`splitlines` boundary class: CRLF/CR/LF plus
    * \v \x1c, \x85, U+2028/9, \f — with blank and non-blank lines between.
    */
  private val c4 = QueryDef("c4_remove_empty_lines",
    (s, dir) => docs(s, dir)
      .select(col(d), Cleaners.removeEmptyLines(
        concat(col("text"), lit("\n   \r\n\t\r"),
          substring(col("text"), 1, 20), lit("\u000B"),
          substring(col("text"), 1, 10),
          lit("\u001C \u0085\u2028x\u2029\f\n\n"))).as("cleaned"))
      .orderBy(d),
    Some("SELECT doc_id, " + OracleSql.removeEmptyLines(
      "text || chr(10)||'   '||chr(13)||chr(10)||chr(9)||chr(13) || " +
        "substr(text,1,20) || chr(11) || substr(text,1,10) || " +
        "chr(28)||' '||chr(133)||chr(8232)||'x'||chr(8233)||chr(12)||" +
        "chr(10)||chr(10)") +
      " AS cleaned FROM documents ORDER BY doc_id"))

  private val c5 = QueryDef("c5_clean_new_lines",
    (s, dir) => docs(s, dir)
      .select(col(d), Cleaners.cleanNewLines(
        concat(lit(" \t\u000B"),
          when(col(d) % 2 === 0, replace(col("text"), lit(" "), lit("\n")))
            .otherwise(col("text")),
          lit("\n\u000B "))).as("cleaned"))
      .orderBy(d),
    Some("SELECT doc_id, replace(" + OracleSql.strip(
      "' '||chr(9)||chr(11)|| CASE WHEN doc_id%2=0 THEN " +
        "replace(text,' ',chr(10)) ELSE text END ||chr(10)||chr(11)||' '") +
      ", chr(10), '') AS cleaned FROM documents ORDER BY doc_id"))

  // ---- filters (SURVEY §2.4): keep-mode + dry-run score-mode ----

  /** F6 keep: the edited half is not a substring of the model half. */
  private def truncationKeepSql(doc: String, tok: String): String =
    s"NOT contains(string_split($doc, ${q(tok)})[1], " +
      s"string_split($doc, ${q(tok)})[2])"

  /** F8's tokens of half `i`: the Python-`.split()` of the lowercased
    * half over the ASCII whitespace class, empty tokens dropped.
    */
  private def genderHalfSql(doc: String, tok: String, i: Int): String =
    s"list_filter(regexp_split_to_array(lower(string_split($doc, " +
      s"${q(tok)})[$i]), '${OracleSql.WsClass}+'), x -> x <> '')"

  /** F8 conflict over the halves `wa`/`wb`: some position up to the
    * shorter length holds two different gendered words.
    */
  private val genderConflictSql: String = {
    val g = "['he','she','him','her','girl','boy']"
    "len(list_filter(range(1, least(len(wa), len(wb))+1), " +
      s"i -> list_contains($g, wa[i]) AND list_contains($g, wb[i]) AND " +
      "wa[i] <> wb[i])) > 0"
  }

  private def containsAnySql(expr: String, phrases: Array[String]): String =
    phrases.map(p => s"contains($expr, ${q(p)})").mkString("(", " OR ", ")")

  /** F3's summed needle counts over the lowercased doc `e`. Python
    * str.count == left-to-right non-overlapping == replace-count;
    * list_sum over a flat list literal — a 403-term `+` chain exceeds
    * DuckDB's binder recursion depth.
    */
  private def nsfwCountSql(e: String): String =
    WordLists.NsfwWords.map { w =>
      val cp = w.codePointCount(0, w.length)
      s"(length($e)-length(replace($e,${q(w)},'')))//$cp"
    }.mkString("CAST(list_sum([", ",", "]) AS BIGINT)")

  private val f1 = QueryDef("f1_check_word_number",
    (s, dir) => docs(s, dir)
      .where(Filters.checkWordNumber(20, 60).keep(col("text")))
      .select(col(d), col("text")).orderBy(d),
    Some("SELECT doc_id, text FROM documents WHERE " +
      s"${OracleSql.wordCount("text")} " +
      "BETWEEN 20 AND 60 ORDER BY doc_id"))

  private val f1score = QueryDef("f1_word_number_score",
    (s, dir) => docs(s, dir)
      .select(col(d),
        Filters.checkWordNumber().score(col("text"))
          .as("text_check_word_number_criteria"))
      .orderBy(d),
    Some(s"SELECT doc_id, ${OracleSql.wordCount("text")} AS " +
      "text_check_word_number_criteria FROM documents ORDER BY doc_id"))

  private val f4 = {
    val sparkDoc = when(col(d) % 4 === 0, upper(col("text"))).otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%4=0 THEN upper(text) ELSE text END"
    QueryDef("f4_check_lowercase_ratio",
      (s, dir) => docs(s, dir)
        .select(col(d), sparkDoc.as("doc"),
          Filters.checkLowercaseRatio().score(sparkDoc).as("ratio"))
        .where(Filters.checkLowercaseRatio(0.75).keep(sparkDoc))
        .orderBy(d),
      Some(s"SELECT doc_id, $sqlDoc AS doc, " +
        s"${OracleSql.lowercaseRatio(sqlDoc)} AS ratio FROM documents WHERE " +
        s"${OracleSql.lowercaseRatio(sqlDoc)} >= 0.75 ORDER BY doc_id"))
  }

  private val f6 = {
    val tok = "<|truncation_splitter|>"
    val sparkDoc = concat(col("text"), lit(tok),
      when(col(d) % 2 === 0, substring(col("text"), 1, 10))
        .otherwise(reverse(substring(col("text"), 1, 10))))
    val sqlDoc = s"text || ${q(tok)} || CASE WHEN doc_id%2=0 THEN " +
      "substr(text,1,10) ELSE reverse(substr(text,1,10)) END"
    QueryDef("f6_check_truncation",
      (s, dir) => docs(s, dir)
        .where(Filters.checkTruncation(tok).keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some(s"SELECT doc_id FROM documents WHERE " +
        s"${truncationKeepSql(sqlDoc, tok)} ORDER BY doc_id"))
  }

  private val f7 = {
    // the \x0B suffixes exercise stripWs vs RE2-\s at the string edge
    // (ADVICE r3): '.\x0B' must strip to a completed doc, '\x0B' to an
    // uncompleted one — on BOTH engines
    val sparkDoc = concat(col("text"),
      element_at(array(lit("."), lit("!"), lit(""), lit("?"), lit(" "),
        lit(".\u000B"), lit("\u000B")),
        (col(d) % 7 + 1).cast("int")))
    val sqlDoc = "text || (['.', '!', '', '?', ' ', '.'||chr(11), " +
      "chr(11)])[(doc_id%7+1)::INT]"
    QueryDef("f7_check_completion",
      (s, dir) => docs(s, dir)
        .where(Filters.checkCompletion().keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some(s"SELECT doc_id FROM documents WHERE " +
        OracleSql.completionKeep(sqlDoc) + " ORDER BY doc_id"))
  }

  private val f8 = {
    val tok = "<|gender_splitter|>"
    val sparkA = when(col(d) % 3 === 0, lit("he went home"))
      .when(col(d) % 3 === 1, lit("boy went home"))
      .otherwise(lit("nobody here"))
    // leading/trailing whitespace around the halves exercises the
    // Python-`.split()` empty-token drop (ADVICE r1: naive \s+ split keeps
    // a leading "" token and misaligns every position)
    val sparkB = when(col(d) % 2 === 0, lit("  she went home"))
      .otherwise(lit("boy stayed put "))
    val sparkDoc = concat(sparkA, lit(tok), sparkB)
    val sqlDoc = "(CASE WHEN doc_id%3=0 THEN 'he went home' WHEN doc_id%3=1 " +
      "THEN 'boy went home' ELSE 'nobody here' END) || " + q(tok) +
      " || (CASE WHEN doc_id%2=0 THEN '  she went home' ELSE 'boy stayed put ' END)"
    QueryDef("f8_check_gender",
      (s, dir) => docs(s, dir)
        .where(Filters.checkGender(tok).keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some(s"SELECT doc_id FROM (SELECT doc_id, " +
        s"${genderHalfSql(sqlDoc, tok, 1)} AS wa, " +
        s"${genderHalfSql(sqlDoc, tok, 2)} AS wb FROM documents) " +
        s"WHERE $genderConflictSql ORDER BY doc_id"))
  }

  private val f9 = {
    // the \x0B-only doc must be empty after strip on BOTH engines
    val sparkDoc = when(col(d) % 7 === 0, lit("... …  \t\u000B "))
      .otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%7=0 THEN '... …  '||chr(9)||chr(11)||' ' " +
      "ELSE text END"
    QueryDef("f9_check_empty",
      (s, dir) => docs(s, dir)
        .where(Filters.checkEmpty().keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some(s"SELECT doc_id FROM documents WHERE length(" + OracleSql.strip(
        s"replace(replace($sqlDoc, '...', ''), '…', '')") +
        ") <> 0 ORDER BY doc_id"))
  }

  private val f10 = {
    val sparkDoc = when(col(d) % 11 === 0,
      concat(col("text"), lit(" As an AI language model I cannot.")))
      .otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%11=0 THEN text || " +
      "' As an AI language model I cannot.' ELSE text END"
    QueryDef("f10_check_ethics",
      (s, dir) => docs(s, dir)
        .where(Filters.checkEthics().keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some(s"SELECT doc_id FROM documents WHERE NOT " +
        containsAnySql(s"lower($sqlDoc)", WordLists.UnwantedWords) +
        " ORDER BY doc_id"))
  }

  private val f11 = {
    val sparkDoc = when(col(d) % 5 === 0,
      concat(col("text"), lit(" sorry I cannot help")))
      .otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%5=0 THEN text || ' sorry I cannot help' " +
      "ELSE text END"
    QueryDef("f11_check_ethics_harsh",
      (s, dir) => docs(s, dir)
        .where(Filters.checkEthicsHarsh().keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some(s"SELECT doc_id FROM documents WHERE NOT " +
        containsAnySql(s"lower($sqlDoc)", WordLists.HarshUnwantedWords) +
        " ORDER BY doc_id"))
  }

  private val f3 = {
    val sparkDoc = when(col(d) % 13 === 0,
      concat(col("text"), lit(" xxx sexy anal"))).otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%13=0 THEN text || ' xxx sexy anal' " +
      "ELSE text END"
    QueryDef("f3_check_nsfw_words",
      (s, dir) => docs(s, dir)
        .select(col(d),
          Filters.checkNsfwWords().score(sparkDoc).as("nsfw_ratio"))
        .orderBy(d),
      Some(s"WITH dd AS (SELECT doc_id, lower($sqlDoc) AS doc FROM documents), " +
        s"cc AS (SELECT doc_id, (${nsfwCountSql("doc")}) AS cnt, " +
        s"${OracleSql.wordCount("doc")} AS words " +
        "FROM dd) SELECT doc_id, CASE WHEN words > 0 THEN CAST(cnt AS DOUBLE)" +
        "/words ELSE 0.0 END AS nsfw_ratio FROM cc ORDER BY doc_id"))
  }

  /** F5 oracle: the top-⌊√distinct⌋ char-ngram mass IS SQL-expressible —
    * unnest ngrams → frequencies → descending-rank window → capped top-k
    * mass over total (also pinned by scalatest golden vectors).
    */
  private val f5 = {
    // every 17th doc gets an astral-plane (surrogate-pair) tail —
    // exercises the codepoint-indexed windows on both engines
    val sparkDoc = when(col(d) % 17 === 0, concat(col("text"), lit("😀" * 12)))
      .otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%17=0 THEN text || repeat(" +
      q("😀") + ", 12) ELSE text END"
    QueryDef("f5_check_char_repetition",
      (s, dir) => docs(s, dir)
        .select(col(d), Filters.checkCharRepetition(10).score(sparkDoc)
          .as("char_rep_ratio"))
        .orderBy(d),
      Some(s"WITH src AS (SELECT doc_id, $sqlDoc AS t FROM documents), " +
        OracleSql.charRepetitionCtes("src", Seq("doc_id"), "t", 10) +
        " SELECT d.doc_id, coalesce(r.ratio, 0.0) AS char_rep_ratio " +
        "FROM documents d LEFT JOIN __cr_ratio r USING (doc_id) " +
        "ORDER BY doc_id"))
  }

  /** PII redaction over a corpus with injected emails/IPs/digit runs —
    * every 3rd doc gets an email, every 4th an IPv4, every 5th a long
    * account number; the rest must pass through byte-identical.
    */
  val taPii: QueryDef = QueryDef("ta_pii_redact",
    (s, dir) => {
      import graft.text.Pii
      val injected = concat(
        when(col("doc_id") % 3 === 0,
          concat(lit("contact user"), col("doc_id") % 7,
            lit("@example.com asap "))).otherwise(lit("")),
        substring(col("text"), 1, 80),
        when(col("doc_id") % 4 === 0,
          concat(lit(" from 10.0."), col("doc_id") % 200, lit(".77 ")))
          .otherwise(lit(" ")),
        when(col("doc_id") % 5 === 0,
          concat(lit("acct 90210"), col("doc_id") + 10000, lit(" end")))
          .otherwise(lit("end")))
      docs(s, dir)
        .select(col("doc_id"), Pii.redact(injected).as("redacted"))
        .orderBy("doc_id")
    },
    Some {
      import graft.text.Pii
      val injected = "(CASE WHEN doc_id%3=0 THEN 'contact user' || " +
        "(doc_id%7) || '@example.com asap ' ELSE '' END) || " +
        "substr(text, 1, 80) || (CASE WHEN doc_id%4=0 THEN ' from 10.0.'" +
        " || (doc_id%200) || '.77 ' ELSE ' ' END) || (CASE WHEN " +
        "doc_id%5=0 THEN 'acct 90210' || (doc_id+10000) || ' end' " +
        "ELSE 'end' END)"
      "SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(" +
        s"$injected, ${q(Pii.EmailRe)}, '<EMAIL>', 'g'), " +
        s"${q(Pii.Ipv4Re)}, '<IP>', 'g'), ${q(Pii.LongDigitsRe)}, " +
        "'<NUM>', 'g') AS redacted FROM documents ORDER BY doc_id"
    })

  /** Sliding-window chunking: 120-char windows every 90 chars (30-char
    * overlap). Oracle enumerates window starts with a zip-unnest over
    * range(0, ceil(len/stride)) — DuckDB's generate_series cannot take
    * lateral column refs.
    */
  val chunkWindows: QueryDef = QueryDef("chunk_fixed_windows",
    (s, dir) => graft.text.Chunker
      .chunk(docs(s, dir), "text", 120, 90, Seq(col(d)))
      .orderBy(d, "chunk_id"),
    Some("WITH n AS (SELECT doc_id, text, unnest(range(0, CAST(" +
      "ceil(length(text)/90.0) AS BIGINT))) AS i FROM documents) " +
      "SELECT doc_id, i AS chunk_id, substr(text, CAST(i*90+1 AS INTEGER), " +
      "120) AS chunk FROM n ORDER BY doc_id, chunk_id"))

  /** BPE trainer + encoder: one word-count shuffle, driver merge loop
    * over the bounded dictionary, closure-model encode. The per-word
    * encoding table is the side-channel (the merge-apply loop is the one
    * step DuckDB does not re-derive; BpeSpec pins it with hand-derived
    * Sennrich-corpus goldens) — document assembly (tokenize, per-word
    * lookup, ORDER BY position reassembly, token totals) is replayed in
    * SQL from that frame.
    */
  val bpeEncode: QueryDef = QueryDef("bpe_encode_tokens",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      val model = graft.text.Bpe.train(docs, "text", numMerges = 40,
        maxWords = 200)
      SideChannel.exportOnce(dir, "bpe_words")(
        graft.text.Bpe.wordEncodings(s, docs, model, "text"))
      graft.text.Bpe.encode(docs, model, "text")
        .select(col(d), col("n_bpe_tokens"), col("bpe_text"))
        .orderBy(d)
    },
    Some {
      s"WITH we AS (SELECT * FROM ${OracleSql.scan("bpe_words")}), " +
        s"t AS (SELECT doc_id, ${OracleSql.words("text")} AS ws " +
        "FROM documents), " +
        "tok AS (SELECT doc_id, i, ws[i] AS w FROM t, LATERAL " +
        "(SELECT unnest(generate_series(1, len(ws))) AS i) g), " +
        "j AS (SELECT tok.doc_id, tok.i, we.bpe, we.n_toks " +
        "FROM tok JOIN we ON we.word = tok.w), " +
        "agg AS (SELECT doc_id, CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens, " +
        "string_agg(bpe, ' ' ORDER BY i) AS bpe_text FROM j GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens, " +
        "coalesce(a.bpe_text, '') AS bpe_text " +
        "FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"
    })

  // ---- HTML text extraction ----

  /** Genuine markup per doc: title/style in head, h1, a p with an
    * entity, a script on ≡0 mod 3, inline tags inside a div, a comment
    * on ≡0 mod 4, an attribute-carrying style, li items. The
    * doc_id-conditional script/comment must NOT change the output.
    */
  private def htmlDocSpark: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col(d).cast("string"),
    lit("</title><style type=\"text/css\">p { color: red }</style>" +
      "</head><body>"),
    lit("<h1>Heading "), (col(d) % 10).cast("string"), lit("</h1>"),
    lit("<p>"), substring(col("text"), 1, 60), lit(" &amp; tail</p>"),
    when(col(d) % 3 === 0, lit("<script>var x = 1 < 2;</script>"))
      .otherwise(lit("")),
    lit("<div>second <b>block</b> here: "),
    substring(col("text"), 61, 40), lit("</div>"),
    when(col(d) % 4 === 0, lit("<!-- hidden comment -->"))
      .otherwise(lit("")),
    lit("<ul><li>item one</li><li>item "), col(d).cast("string"),
    lit("</li></ul></body></html>"))

  /** HTML extraction — construction-inverting oracle: the query BUILDS
    * genuine markup and runs the real state-machine extractor; DuckDB
    * composes the EXPECTED prose from the same pieces (newlines where
    * block tags sat, entity already decoded, script/style/comment
    * simply absent) and applies only the pinned whitespace
    * normalization — it never parses a tag.
    */
  val htmlExtract: QueryDef = QueryDef("html_extract",
    (s, dir) => docs(s, dir)
      .select(col(d),
        graft.text.Html.extractUdf(htmlDocSpark).as("text_out"))
      .orderBy(d),
    Some("WITH raw AS (SELECT doc_id, 'Doc ' || doc_id || chr(10) || " +
      "'Heading ' || (doc_id % 10) || chr(10) || chr(10) || " +
      "substr(text, 1, 60) || ' & tail' || chr(10) || chr(10) || " +
      "'second block here: ' || substr(text, 61, 40) || chr(10) || " +
      "chr(10) || 'item one' || chr(10) || chr(10) || 'item ' || " +
      "doc_id AS t FROM documents) " +
      "SELECT doc_id, " + OracleSql.htmlNormalize("t") + " AS text_out " +
      "FROM raw ORDER BY doc_id"))

  // ---- adversarial-unicode fuzz (VERDICT r6 #5) ----
  //
  // Every cleaner and scalar filter runs over a HOSTILE corpus —
  // astral-plane emoji, combining marks, RTL text + RLM, NEL/LS/PS line
  // breaks, NBSP, C1 controls, cp1252 mojibake, fullwidth forms,
  // ligatures, curly quotes, HTML entities, terminal escapes, vertical
  // tabs — and the DuckDB oracle recomputes the same transforms over the
  // same stored bytes. This is exactly where Spark-vs-DuckDB
  // `length`/`substring`/regex semantics could silently diverge (the
  // reference operates on Python str codepoints: cleaners.py,
  // filters.py); both engines here are codepoint-indexed, and these
  // oracles prove it input by input.
  //
  // The corpus is DETERMINISTIC and scale-independent: N hostile
  // fragments composed 3-at-a-time by index arithmetic into N² rows,
  // written once per run to a parquet side channel that BOTH engines
  // read — so encoding round-trips through parquet (e.g. unpaired
  // surrogates, which UTF-8 cannot carry) equalize before either engine
  // sees the text.
  //
  // Known divergences deliberately NOT probed (documented, not silent):
  // Turkish dotted İ (ICU lowercases to `i` + combining dot, JVM
  // per-char folding to bare `i`; no corpus phrase depends on it) and
  // cc_net accent stripping over arbitrary unicode (engine-bound NFD
  // subset — covered by the injected-char `ccnet_normalize` oracle).

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
    ("tab\there\u0007bell ", "tab\therebell "),
    ("delchar ", "delchar "),
    ("v\u000Btab ", "vtab "),
    // HTML entities (no raw '<' → ftfy auto-unescape fires)
    ("&amp;&gt; and ", "&> and "),
    // ANSI terminal escape removed
    ("esc\u001B[31mred ", "escred "),
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

  private val FuzzTable = OracleSql.scan("fuzz_corpus")

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
      s"WITH src AS (SELECT fid, text AS t, lower(text) AS lt FROM " +
        s"$FuzzTable), " +
        OracleSql.charRepetitionCtes("src", Seq("fid"), "t", 5) + ", " +
        s"base AS (SELECT fid, t, lt, ${OracleSql.wordCount("t")} AS wc, " +
        s"(${nsfwCountSql("lt")}) AS ncnt FROM src) " +
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
      val ttok = "<|truncation_splitter|>"
      val gtok = "<|gender_splitter|>"
      val truncDoc = s"text || ${q(ttok)} || (CASE WHEN fid%2=0 THEN " +
        "substr(text,1,12) ELSE chr(8232)||'zq'||substr(text,1,8) END)"
      val genderDoc = "(CASE WHEN fid%2=0 THEN 'he'||chr(160)||" +
        s"'went home' ELSE 'he went home' END) || ${q(gtok)} " +
        "|| 'she stayed'||chr(8232)||'put here'"
      s"SELECT fid, CASE WHEN ${truncationKeepSql(truncDoc, ttok)} " +
        s"THEN 1 ELSE 0 END AS trunc, CASE WHEN $genderConflictSql " +
        "THEN 1 ELSE 0 END AS gender FROM (SELECT fid, text, " +
        s"${genderHalfSql(genderDoc, gtok, 1)} AS wa, " +
        s"${genderHalfSql(genderDoc, gtok, 2)} AS wb " +
        s"FROM $FuzzTable) ORDER BY fid"
    })

  val all: Seq[QueryDef] = Seq(
    c1, c2, c3, c4, c5,
    f1, f1score, f3, f4, f5, f6, f7, f8, f9, f10, f11,
    taPii, chunkWindows, bpeEncode, htmlExtract,
    fuzzCleaners, fuzzFilters, fuzzSplitters)
}
