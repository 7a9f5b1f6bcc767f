package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.TextAnalysis

/** Corpus-analysis oracle queries: per-document signals (token counts,
  * quality score, language guess, fingerprint, Gopher and C4 rules, URL
  * domains, line dedup, compression ratio), corpus statistics (term
  * frequencies, TF-IDF, length histograms, the data card, count-min and
  * HyperLogLog sketches, boilerplate lines) and decontamination (n-gram
  * overlap, Bloom n-grams, embeddings).
  */
object QueriesAnalysis {

  private val d = "doc_id"
  private def docs(s: SparkSession, dir: String) =
    Queries.table(s, dir, "documents")

  /** The `documents` word trigrams `g(gram)`, over `w(ws)`. */
  private val trigramCtes =
    s"WITH w AS (SELECT ${OracleSql.termWords("text")} AS ws FROM " +
      "documents), g AS (SELECT unnest(CASE WHEN len(ws) < 3 THEN [] ELSE " +
      "list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || " +
      "ws[i+1] || ' ' || ws[i+2]) END) AS gram FROM w)"

  val taTokens: QueryDef = QueryDef("ta_token_count",
    (s, dir) => Queries.table(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCountWhitespace(col("text")).as("ws_tokens"),
        TextAnalysis.tokenCountBpe(col("text")).as("bpe_tokens"),
        TextAnalysis.wordCount(col("text")).as("words"))
      .orderBy("doc_id"),
    Some("SELECT doc_id, CASE WHEN length(" + OracleSql.strip("text") +
      ")=0 THEN 0 ELSE len(regexp_split_to_array(" + OracleSql.strip("text") +
      s", '${OracleSql.WsClass}+')) END AS " +
      "ws_tokens, len(regexp_extract_all(text, " +
      s"'[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')) AS bpe_tokens, " +
      s"${OracleSql.wordCount("text")} AS words FROM documents " +
      "ORDER BY doc_id"))

  /** The composite quality score's DuckDB mirror over a text expression —
    * shared with the quality-quota and curriculum oracles
    * (`QueriesSampling.qualityCap`, `QueriesSampling.curriculum`).
    */
  private[graft] def qualityScoreSql(e: String): String = {
    val stop = TextAnalysis.EnStopwords
      .map(w => OracleSql.occurrences(e, w)).mkString("(", "+", ")")
    val punct = s"(length($e)-length(regexp_replace($e, '[.!?,;:]', " +
      "'', 'g')))"
    val words = OracleSql.wordCount(e)
    s"0.4 * least(CAST($words AS DOUBLE)/100.0, 1.0) + " +
      s"0.3 * (1.0 - CAST($punct AS DOUBLE)/CAST(greatest(length($e),1) " +
      s"AS DOUBLE)) + 0.3 * least(CAST($stop AS DOUBLE)/CAST(greatest(" +
      s"$words,1) AS DOUBLE) * 5.0, 1.0)"
  }

  val taQuality: QueryDef = QueryDef("ta_quality_score",
    (s, dir) => Queries.table(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id"),
    Some(s"SELECT doc_id, ${qualityScoreSql("text")} AS quality " +
      "FROM documents ORDER BY doc_id"))

  val taLangId: QueryDef = QueryDef("ta_lang_id",
    (s, dir) => Queries.table(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"))
      .orderBy("doc_id"),
    Some {
      val sc = TextAnalysis.LangMarkers.map { case (lang, ms) =>
        lang -> ms.map(w => OracleSql.occurrences("text", w))
          .mkString("(", "+", ")")
      }.toMap
      s"SELECT doc_id, CASE WHEN ${sc("en")} >= ${sc("de")} AND ${sc("en")} " +
        s">= ${sc("fr")} AND ${sc("en")} >= ${sc("es")} THEN 'en' WHEN " +
        s"${sc("de")} >= ${sc("fr")} AND ${sc("de")} >= ${sc("es")} THEN " +
        s"'de' WHEN ${sc("fr")} >= ${sc("es")} THEN 'fr' ELSE 'es' END AS " +
        "lang_guess FROM documents ORDER BY doc_id"
    })

  val taFingerprint: QueryDef = QueryDef("ta_fingerprint",
    (s, dir) => Queries.table(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    Some("SELECT doc_id, md5(regexp_replace(lower(text), " +
      s"'${OracleSql.WsClass}+', ' ', 'g')) " +
      "AS fp FROM documents ORDER BY doc_id"))

  /** In-document line dedup: documents synthesized with repeated lines
    * (A B A C B A shape) must collapse to first occurrences in order.
    */
  val taLineDedup: QueryDef = QueryDef("ta_line_dedup",
    (s, dir) => {
      val a = substring(col("text"), 1, 30)
      val b = substring(col("text"), 31, 25)
      val cc = substring(col("text"), 56, 20)
      val doc = concat_ws("\n", a, b, a, cc, b, a,
        when(col("doc_id") % 2 === 0, lit("")).otherwise(cc), lit(""))
      Queries.table(s, dir, "documents")
        .select(col("doc_id"),
          graft.analysis.TextAnalysis.dedupLines(doc).as("cleaned"))
        .orderBy("doc_id")
    },
    Some {
      val doc = "substr(text,1,30) || chr(10) || substr(text,31,25) || " +
        "chr(10) || substr(text,1,30) || chr(10) || substr(text,56,20) || " +
        "chr(10) || substr(text,31,25) || chr(10) || substr(text,1,30) || " +
        "chr(10) || (CASE WHEN doc_id%2=0 THEN '' ELSE substr(text,56,20) " +
        "END) || chr(10) || ''"
      s"WITH src AS (SELECT doc_id, string_split($doc, chr(10)) AS l " +
        "FROM documents) SELECT doc_id, array_to_string(list_filter(l, " +
        "(x, i) -> list_position(l, x) = i), chr(10)) AS cleaned " +
        "FROM src ORDER BY doc_id"
    })

  /** Gopher quality rules (Rae et al. 2021 §A1.1) over a corpus with
    * injected bullet lines, ellipsis lines, symbol runs and digit-only
    * words — every signal + the composite keep flag is hash-compared.
    */
  val taGopher: QueryDef = QueryDef("gopher_quality_signals",
    (s, dir) => {
      import graft.analysis.GopherQuality
      val doc = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\n- a bullet line\n* another one\n• unicode bullet"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("\ntrailing thought...\nand more…")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" ### ## 42 1066 90210"))
          .otherwise(lit("")),
        when(col("doc_id") % 6 === 0,
          lit("\nrepeat me twice\nrepeat me twice")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("\n\nsame paragraph body\n\nsame paragraph body"))
          .otherwise(lit("")))
      Queries.table(s, dir, "documents")
        .select(col("doc_id"),
          GopherQuality.wordCount(doc).cast("long").as("wc"),
          GopherQuality.meanWordLen(doc).as("mwl"),
          GopherQuality.symbolToWordRatio(doc).as("swr"),
          GopherQuality.bulletLineRatio(doc).as("blr"),
          GopherQuality.ellipsisLineRatio(doc).as("elr"),
          GopherQuality.alphaWordRatio(doc).as("awr"),
          GopherQuality.dupLineFraction(doc).as("dlf"),
          GopherQuality.dupLineCharFraction(doc).as("dcf"),
          GopherQuality.dupParagraphFraction(doc).as("dpf"),
          GopherQuality.dupParagraphCharFraction(doc).as("dpcf"),
          GopherQuality.keep(doc).as("keep"))
        .orderBy("doc_id")
    },
    Some {
      val doc = "text || (CASE WHEN doc_id%3=0 THEN chr(10)||'- a bullet " +
        "line'||chr(10)||'* another one'||chr(10)||'• unicode bullet' " +
        "ELSE '' END) || (CASE WHEN doc_id%4=0 THEN chr(10)||'trailing " +
        "thought...'||chr(10)||'and more…' ELSE '' END) || (CASE WHEN " +
        "doc_id%5=0 THEN ' ### ## 42 1066 90210' ELSE '' END) || " +
        "(CASE WHEN doc_id%6=0 THEN chr(10)||'repeat me twice'||" +
        "chr(10)||'repeat me twice' ELSE '' END) || " +
        "(CASE WHEN doc_id%7=0 THEN chr(10)||chr(10)||'same paragraph " +
        "body'||chr(10)||chr(10)||'same paragraph body' ELSE '' END)"
      "WITH src AS (SELECT doc_id, " + doc + " AS t FROM documents), " +
        s"sig AS (SELECT doc_id, t, ${OracleSql.words("t")} AS w, " +
        "string_split(t, chr(10)) AS l, " +
        "string_split(t, chr(10)||chr(10)) AS p " +
        "FROM src), " +
        "m AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS wc, " +
        "CASE WHEN len(w)=0 THEN 0.0 ELSE CAST(list_sum(" +
        "list_transform(w, x -> length(x))) AS DOUBLE)/len(w) END AS mwl, " +
        "CASE WHEN len(w)=0 THEN 0.0 ELSE ((length(t)-length(replace(t," +
        "'#',''))) + (length(t)-length(replace(t,'...','')))/3.0)" +
        "/len(w) END AS swr, " +
        "CAST(len(list_filter(l, x -> " + OracleSql.strip("x") + "[1:2] IN " +
        "('- ', '* ', '• '))) AS DOUBLE)/len(l) AS blr, " +
        "CAST(len(list_filter(l, x -> " + OracleSql.strip("x") +
        "[-3:] = '...' OR " +
        OracleSql.strip("x") + "[-1:] = '…')) AS DOUBLE)/len(l) AS elr, " +
        "CASE WHEN len(w)=0 THEN 0.0 ELSE CAST(len(list_filter(w, " +
        "x -> regexp_matches(x, '\\p{L}'))) AS DOUBLE)/len(w) END AS awr, " +
        "CAST(len(l) - len(list_distinct(l)) AS DOUBLE)/len(l) AS dlf, " +
        "CASE WHEN coalesce(list_sum(list_transform(l, x -> length(x)))" +
        ", 0) = 0 THEN 0.0 ELSE CAST(coalesce(list_sum(list_transform(" +
        "list_filter(l, (x, i) -> list_position(l, x) <> i), " +
        "x -> length(x))), 0) AS DOUBLE)/list_sum(list_transform(l, " +
        "x -> length(x))) END AS dcf, " +
        "CAST(len(p) - len(list_distinct(p)) AS DOUBLE)/len(p) AS dpf, " +
        "CASE WHEN coalesce(list_sum(list_transform(p, x -> length(x)))" +
        ", 0) = 0 THEN 0.0 ELSE CAST(coalesce(list_sum(list_transform(" +
        "list_filter(p, (x, i) -> list_position(p, x) <> i), " +
        "x -> length(x))), 0) AS DOUBLE)/list_sum(list_transform(p, " +
        "x -> length(x))) END AS dpcf " +
        "FROM sig) " +
        "SELECT doc_id, wc, mwl, swr, blr, elr, awr, dlf, dcf, dpf, dpcf, " +
        "(wc BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0 AND " +
        "swr <= 0.1 AND blr <= 0.9 AND elr <= 0.3 AND awr >= 0.8 AND " +
        "dlf <= 0.3 AND dcf <= 0.2 AND dpf <= 0.3 AND dpcf <= 0.2) AS keep " +
        "FROM m ORDER BY doc_id"
    })

  /** URL domain extraction + blocklist flag over injected URLs. */
  val taUrls: QueryDef = QueryDef("ta_url_domains",
    (s, dir) => {
      import graft.analysis.Urls
      val doc = concat(
        when(col("doc_id") % 3 === 0,
          lit("see https://Sub.Spam.example/x?q=1 and http://ok.org/a "))
          .otherwise(lit("")),
        substring(col("text"), 1, 60),
        when(col("doc_id") % 5 === 0,
          lit(" ref http://docs.ok.org/b#frag end")).otherwise(lit("")))
      Queries.table(s, dir, "documents")
        .select(col("doc_id"),
          array_join(Urls.domains(doc), ",").as("domains"),
          Urls.hasBlockedDomain(doc, Seq("spam.example", "evil.test"))
            .as("blocked"))
        .orderBy("doc_id")
    },
    Some {
      val doc = "(CASE WHEN doc_id%3=0 THEN 'see " +
        "https://Sub.Spam.example/x?q=1 and http://ok.org/a ' ELSE '' " +
        "END) || substr(text,1,60) || (CASE WHEN doc_id%5=0 THEN " +
        "' ref http://docs.ok.org/b#frag end' ELSE '' END)"
      "WITH src AS (SELECT doc_id, list_sort(list_distinct(" +
        "list_transform(regexp_extract_all(" + doc + ", " +
        "'https?://[^\\s]+'), u -> lower(regexp_extract(u, " +
        "'https?://([^/\\s]+)', 1))))) AS d FROM documents) " +
        "SELECT doc_id, coalesce(array_to_string(d, ','), '') AS domains, " +
        "coalesce(len(list_filter(d, x -> x = 'spam.example' OR " +
        "x LIKE '%.spam.example' OR x = 'evil.test' OR " +
        "x LIKE '%.evil.test')) > 0, FALSE) AS blocked " +
        "FROM src ORDER BY doc_id"
    })

  /** Heavy hitters: the 20 most frequent word trigrams across the corpus
    * (boilerplate/template detection), ties broken lexicographically.
    */
  val hhTopNgrams: QueryDef = QueryDef("hh_top_ngrams",
    (s, dir) => graft.analysis.TermStats
      .topNgrams(Queries.table(s, dir, "documents"), "text", 3, 20)
      .orderBy(col("n_occurrences").desc, col("gram").asc),
    Some(trigramCtes + " SELECT gram, CAST(count(*) AS BIGINT) AS " +
      "n_occurrences FROM g " +
      "GROUP BY gram ORDER BY n_occurrences DESC, gram ASC LIMIT 20"))

  /** Per-document top-3 salient terms with TF-IDF ingredients (integer
    * rank: tf desc, df asc, term asc — see TermStats.tfIdfTop).
    */
  val taTfIdf: QueryDef = QueryDef("ta_tfidf_top",
    (s, dir) => graft.analysis.TermStats
      .tfIdfTop(Queries.table(s, dir, "documents"), "doc_id", "text", 3)
      .orderBy("doc_id", "term"),
    Some("WITH w AS (SELECT doc_id, unnest(" +
      OracleSql.termWords("text") + ") AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, " +
      "CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, term), " +
      "d AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) " +
      "AS df FROM tf), r AS (SELECT *, row_number() OVER (PARTITION BY " +
      "doc_id ORDER BY tf DESC, df ASC, term ASC) AS rk FROM d) " +
      "SELECT doc_id, term, tf, df FROM r WHERE rk <= 3 " +
      "ORDER BY doc_id, term"))

  /** C4-style boilerplate removal. documents.text is newline-free word
    * soup, so the query injects the structure it exercises (same pattern
    * as c4/c5): a rotating header (df≈167 each), a universal footer
    * (df=500), the unique body, and a 15-char body prefix as a rare line.
    * minDocs=4 removes header+footer everywhere; body (+ its prefix
    * unless prefixes collide across >=4 docs — both engines agree either
    * way) survives in order.
    */
  val boilerplateRemoval: QueryDef = QueryDef("bp_remove_frequent_lines",
    (s, dir) => {
      val injected = docs(s, dir).select(col(d), concat(
        element_at(array(
          lit("subscribe to our newsletter"),
          lit("all rights reserved"),
          lit("accept cookies to continue")), (col(d) % 3 + 1).cast("int")),
        lit("\n"), col("text"), lit("\n"),
        lit("copyright 2026 example corp"), lit("\n"),
        substring(col("text"), 1, 15)).as("text"))
      graft.analysis.Boilerplate
        .removeFrequentLines(injected, d, "text", 4)
        .orderBy(d)
    },
    Some("WITH t AS (SELECT doc_id, (CASE CAST(doc_id % 3 AS INTEGER) " +
      "WHEN 0 THEN 'subscribe to our newsletter' WHEN 1 THEN " +
      "'all rights reserved' ELSE 'accept cookies to continue' END) || " +
      "chr(10) || text || chr(10) || 'copyright 2026 example corp' || " +
      "chr(10) || substr(text,1,15) AS text FROM documents), " +
      "p AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line, " +
      "unnest(range(1, len(string_split(text, chr(10)))+1)) AS pos FROM t), " +
      "f AS (SELECT line FROM p GROUP BY line HAVING " +
      "count(DISTINCT doc_id) >= 4), " +
      "k AS (SELECT p.doc_id, p.pos, p.line FROM p ANTI JOIN f ON " +
      "p.line = f.line), " +
      "r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS " +
      "text FROM k GROUP BY doc_id) " +
      "SELECT t.doc_id, coalesce(r.text, '') AS text FROM t LEFT JOIN r " +
      "USING (doc_id) ORDER BY doc_id"))

  /** Deflate compression-ratio signal. The deflate BYTE STREAM is the one
    * thing DuckDB cannot recompute (no SQL zlib); since r8 the compressed
    * LENGTH is exported as a side-channel frame (the materialized-decision
    * pattern of the dedup signature exports) and everything else — the
    * UTF-8 byte count, the ratio division, the empty-text 1.0 case — is
    * recomputed by the oracle from the corpus plus that frame, making the
    * row rows+schema+hash instead of rows-only (VERDICT r7 #5). The
    * deflate semantics themselves stay property-spec'd (repetition ⇒
    * lower ratio, bounds — CorpusOpsSpec).
    */
  val compressRatio: QueryDef = QueryDef("ta_compress_ratio",
    (s, dir) => {
      val side = SideChannel.through(dir, "compress_len")(
        docs(s, dir).select(col(d).as("id"),
          graft.analysis.Compression.deflateLen(col("text"))
            .as("comp_len")))
      docs(s, dir)
        // coalesce: null text must keep deflateRatio's null/empty ⇒ 1.0
        // contract (octet_length(NULL) is NULL, which would leak a NULL
        // ratio both engines silently agree on)
        .select(col(d), coalesce(octet_length(col("text")).cast("long"),
          lit(0L)).as("n_bytes"))
        .join(side, col(d) === col("id"))
        .select(col(d), col("n_bytes"), col("comp_len"),
          when(col("n_bytes") === 0, lit(1.0))
            .otherwise(col("comp_len").cast("double") / col("n_bytes"))
            .as("deflate_ratio"))
        .orderBy(d)
    },
    Some {
      "SELECT d.doc_id, CAST(COALESCE(strlen(d.text), 0) AS BIGINT) " +
        "AS n_bytes, s.comp_len, " +
        "CASE WHEN COALESCE(strlen(d.text), 0) = 0 THEN 1.0 ELSE " +
        "CAST(s.comp_len AS DOUBLE) / strlen(d.text) END AS deflate_ratio " +
        s"FROM documents d JOIN ${OracleSql.scan("compress_len")} s " +
        "ON d.doc_id = s.id " +
        "ORDER BY d.doc_id"
    })

  /** N-gram-overlap decontamination score (5-grams here; 13 is the
    * published GPT-3 size — word soup is too short for 13). The eval set
    * is every 10th doc plus a marker phrase; every 7th+3 corpus doc
    * quotes the phrase. Benchmark members score 1.0 (their grams are a
    * subset of the eval set's), quoting docs land strictly between 0
    * and 1, clean docs at ~0 (accidental soup collisions are computed
    * identically by both engines).
    */
  val deconOverlap: QueryDef = QueryDef("decon_overlap_score",
    (s, dir) => {
      val phrase = "the quick brown fox jumps over the lazy dog"
      val corpus = docs(s, dir).select(col(d),
        when(col(d) % 7 === 3, concat(col("text"), lit(" " + phrase)))
          .otherwise(col("text")).as("text"))
      val bench = docs(s, dir).where(col(d) % 10 === 0)
        .select(col(d), concat(col("text"), lit(" " + phrase)).as("text"))
      graft.analysis.Decon.overlapScore(corpus, bench, d, "text", 5)
        .orderBy(d)
    },
    Some {
      val p = " the quick brown fox jumps over the lazy dog"
      val gram5 = "CASE WHEN len(ws)<5 THEN [] ELSE list_transform(" +
        "range(1, len(ws)-3), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||" +
        "' '||ws[i+3]||' '||ws[i+4]) END"
      "WITH cd AS (SELECT doc_id, CASE WHEN doc_id%7=3 THEN text || '" + p +
        "' ELSE text END AS t FROM documents), " +
        "bd AS (SELECT doc_id, text || '" + p + "' AS t FROM documents " +
        "WHERE doc_id%10=0), " +
        s"cw AS (SELECT doc_id, ${OracleSql.termWords("t")} AS ws FROM cd), " +
        s"bw AS (SELECT doc_id, ${OracleSql.termWords("t")} AS ws FROM bd), " +
        "cgr AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, " +
        "unnest(" + gram5 + ") AS gram FROM cw)), " +
        "bgr AS (SELECT DISTINCT gram FROM (SELECT unnest(" + gram5 +
        ") AS gram FROM bw)), " +
        "m AS (SELECT cgr.doc_id, count(*) AS n_grams, count(bgr.gram) AS " +
        "n_matched FROM cgr LEFT JOIN bgr ON cgr.gram = bgr.gram " +
        "GROUP BY cgr.doc_id) " +
        "SELECT d.doc_id, coalesce(m.n_grams, 0) AS n_grams, " +
        "coalesce(m.n_matched, 0) AS n_matched, " +
        "coalesce(CAST(m.n_matched AS DOUBLE)/m.n_grams, 0.0) AS " +
        "overlap_frac FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id " +
        "ORDER BY d.doc_id"
    })

  /** Per-source length histogram with integer log2 buckets
    * (length-of-binary-string, not floating log2 — see CorpusStats).
    */
  val lenHistogram: QueryDef = QueryDef("stats_len_histogram",
    (s, dir) => graft.analysis.CorpusStats
      .lengthHistogram(docs(s, dir), "n_chars", Seq("source"))
      .orderBy("source", "len_bucket"),
    Some("SELECT source, CASE WHEN n_chars <= 0 THEN 0 ELSE " +
      "CAST(length(printf('%b', n_chars)) AS BIGINT) END AS " +
      "len_bucket, CAST(count(*) AS BIGINT) AS n_docs, min(n_chars) AS " +
      "min_len, max(n_chars) AS max_len FROM documents GROUP BY source, " +
      "len_bucket ORDER BY source, len_bucket"))

  /** Corpus data card: per-(source x lang) cells + all margins in ONE
    * CUBE pass (Expand → one partially-aggregated shuffle). All-integer
    * aggregates; `grp` = grouping_id so rolled-up NULLs are explicit.
    */
  val corpusCard: QueryDef = QueryDef("corpus_card",
    (s, dir) => graft.analysis.CorpusStats.corpusCard(
      Queries.table(s, dir, "documents"), "source", "lang",
      graft.text.Filters.wordCount(col("text")))
      .orderBy("grp", "source", "lang"),
    Some(s"SELECT source, lang, count(*) AS n_docs, " +
      s"CAST(sum(toks) AS BIGINT) AS total_tokens, " +
      "min(toks) AS min_tokens, max(toks) AS max_tokens, " +
      "CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS grp " +
      s"FROM (SELECT source, lang, ${OracleSql.wordCount("text")} AS toks " +
      "FROM documents) " +
      "GROUP BY CUBE (source, lang) ORDER BY grp, source, lang"))

  // ---- Bloom n-gram decontamination ----

  private val DeconN = 13

  /** Bloom 13-gram decontamination of the odd-mod-7 corpus against the
    * doc_id ≡ 0 (mod 7) "benchmark" slice. At fpp=1e-9 over this
    * corpus's gram set the Bloom false-positive set is empty, so the
    * probabilistic counts coincide with the exact distinct-gram join the
    * oracle computes (and Spark's Bloom hashing is deterministic, so the
    * match is stable, not lucky — the dedup_bloom_against argument).
    */
  val deconBloom: QueryDef = QueryDef("decon_bloom_ngrams",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      graft.analysis.Decon.bloomContaminated(
        docs.where(col("doc_id") % 7 =!= 0),
        docs.where(col("doc_id") % 7 === 0),
        // auto-size: the 100000 constant was enough at the oracle scales
        // but ~5.8× oversubscribed at sf1 (the incr_ingest_e2e hazard,
        // ADVICE r9) — the measured distinct-gram count keeps fpp=1e-9
        // at every scale
        "doc_id", "text", DeconN, expectedItems = 0L, fpp = 1e-9)
        .orderBy("doc_id")
    },
    Some {
      val gram = (0 until DeconN).map(j => s"ws[i+$j]")
        .mkString(" || ' ' || ")
      s"WITH w AS (SELECT doc_id, ${OracleSql.termWords("text")} AS ws " +
        "FROM documents), " +
        s"g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) < " +
        s"$DeconN THEN [] ELSE list_transform(range(1, len(ws) - " +
        s"${DeconN - 2}), i -> $gram) END)) AS gram FROM w), " +
        "bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0), " +
        "hits AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS " +
        "contaminated_grams FROM g JOIN bench USING (gram) " +
        "WHERE g.doc_id % 7 <> 0 GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(h.contaminated_grams, 0) AS " +
        "contaminated_grams, coalesce(h.contaminated_grams, 0) > 0 AS " +
        "flagged FROM documents d LEFT JOIN hits h USING (doc_id) " +
        "WHERE d.doc_id % 7 <> 0 ORDER BY d.doc_id"
    })

  // ---- C4 cleanup heuristics ----

  /** Injected C4-hostile page structure (both engines build it
    * identically): a constant opening sentence, a long terminal-punct
    * line, then doc_id-conditional traps — a short line, a no-terminal
    * line, a javascript line, a lorem-ipsum sentence, a curly-brace
    * sentence — and a '?'-terminated and a quote-terminated closer.
    */
  private def c4DocSpark: org.apache.spark.sql.Column = {
    val nl = lit("\n")
    concat(
      lit("every page begins with a standard greeting sentence here."), nl,
      substring(col("text"), 1, 60), lit("."), nl,
      when(col(d) % 2 === 0, concat(lit("short line."), nl))
        .otherwise(lit("")),
      when(col(d) % 3 === 0, concat(substring(col("text"), 61, 50), nl))
        .otherwise(lit("")),
      when(col(d) % 4 === 0, concat(
        lit("this page uses JavaScript heavily for rendering content."),
        nl)).otherwise(lit("")),
      when(col(d) % 5 === 0, concat(
        lit("lorem ipsum dolor sit amet consectetur."), nl))
        .otherwise(lit("")),
      when(col(d) % 6 === 0, concat(
        lit("object notation { braces } appear here today."), nl))
        .otherwise(lit("")),
      substring(col("text"), 111, 60), lit(" done?"), nl,
      lit("is it true that quotes also end lines\""))
  }

  private val c4DocSql: String =
    "'every page begins with a standard greeting sentence here.' || " +
      "chr(10) || substr(text, 1, 60) || '.' || chr(10) || " +
      "(CASE WHEN doc_id % 2 = 0 THEN 'short line.' || chr(10) " +
      "ELSE '' END) || " +
      "(CASE WHEN doc_id % 3 = 0 THEN substr(text, 61, 50) || chr(10) " +
      "ELSE '' END) || " +
      "(CASE WHEN doc_id % 4 = 0 THEN 'this page uses JavaScript " +
      "heavily for rendering content.' || chr(10) ELSE '' END) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN 'lorem ipsum dolor sit amet " +
      "consectetur.' || chr(10) ELSE '' END) || " +
      "(CASE WHEN doc_id % 6 = 0 THEN 'object notation { braces } " +
      "appear here today.' || chr(10) ELSE '' END) || " +
      "substr(text, 111, 60) || ' done?' || chr(10) || " +
      "'is it true that quotes also end lines\"'"

  /** C4 line grammar + document gate, fully re-derived in SQL: the line
    * predicates (terminal punct via substr(-1), whitespace word count,
    * javascript instr) and the page gates are spelled with the same
    * builtin steps on both engines — no regex dialect in the predicates.
    */
  val c4Filter: QueryDef = QueryDef("c4_line_filter",
    (s, dir) => graft.analysis.C4Filters.c4Signals(
      Queries.table(s, dir, "documents").withColumn("_doc", c4DocSpark),
      d, "_doc")
      .orderBy(d),
    Some("WITH dd AS (SELECT doc_id, " + c4DocSql + " AS t " +
      "FROM documents), " +
      "l AS (SELECT doc_id, t, " + OracleSql.c4CleanLines("t") +
      " AS text_out FROM dd), " +
      "g AS (SELECT doc_id, t, text_out, CAST(len(" +
      "regexp_split_to_array(text_out, '[.!?]')) - 1 AS INT) AS " +
      "n_sentences, instr(lower(t), 'lorem ipsum') > 0 AS " +
      "has_lorem_ipsum, instr(t, '{') > 0 AS has_curly_brace FROM l) " +
      "SELECT doc_id, text_out, n_sentences, has_lorem_ipsum, " +
      "has_curly_brace, (n_sentences >= 3 AND NOT has_lorem_ipsum AND " +
      "NOT has_curly_brace) AS keep FROM g ORDER BY doc_id"))

  // ---- count-min sketch heavy hitters ----

  private val CmsDepth = 3
  private val CmsWidth = 1024

  /** Count-min estimates for the exact top-20 trigrams — grid and
    * estimates replayed bit-exactly in SQL (the seeded-md5 row hashes
    * make the sketch deterministic: no "approx doesn't hash-match"
    * escape). The oracle proves estimate ≥ exact per gram implicitly:
    * both columns come from independent derivations on both engines.
    */
  val cmsTopNgrams: QueryDef = QueryDef("cms_top_ngrams",
    (s, dir) => {
      import graft.analysis.{Sketch, TermStats}
      val docs = Queries.table(s, dir, "documents")
      val grams = docs.select(explode(
        graft.text.AsciiGrams.ngrams(col("text"), 3)).as("gram"))
      val grid = Sketch.cmsBuild(grams, "gram", CmsDepth, CmsWidth)
      val top = TermStats.topNgrams(docs, "text", 3, 20)
      Sketch.cmsEstimate(top, "gram", grid, CmsDepth, CmsWidth)
        .join(top, Seq("gram"))
        .select(col("gram"), col("n_occurrences"), col("cms_estimate"))
        .orderBy(col("n_occurrences").desc, col("gram").asc)
    },
    Some(trigramCtes + ", " +
      s"rr AS (SELECT unnest(range(0, $CmsDepth)) AS r), " +
      "grid AS (SELECT rr.r, ('0x' || substr(md5(rr.r || ':' || " +
      s"g.gram), 1, 8))::BIGINT % $CmsWidth AS bucket, " +
      "CAST(count(*) AS BIGINT) AS cnt FROM g CROSS JOIN rr " +
      "GROUP BY 1, 2), " +
      "top AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences " +
      "FROM g GROUP BY 1 ORDER BY n_occurrences DESC, gram LIMIT 20), " +
      "pairs AS (SELECT t.gram, rr.r, ('0x' || substr(md5(rr.r || ':' " +
      s"|| t.gram), 1, 8))::BIGINT % $CmsWidth AS bucket " +
      "FROM top t CROSS JOIN rr), " +
      "est AS (SELECT p.gram, CAST(min(coalesce(grid.cnt, 0)) AS " +
      "BIGINT) AS cms_estimate FROM pairs p LEFT JOIN grid ON " +
      "grid.r = p.r AND grid.bucket = p.bucket GROUP BY 1) " +
      "SELECT t.gram, t.n_occurrences, e.cms_estimate FROM top t " +
      "JOIN est e USING (gram) ORDER BY n_occurrences DESC, gram"))

  /** p=9 → 512 registers, ~4.6% standard error — the corpus-stats
    * sweet spot (a vocabulary estimate, not a billing counter).
    */
  private val HllP = 9

  /** The HLL replay over the `documents` tokens, per `lang` when
    * `byLang`: the 60-bit md5-prefix hash, the `bin`/`ltrim`
    * leading-zero rank, the register maxima over 2^[[HllP]] = 512
    * registers, the INTEGER harmonic sum Σ 2^(R−Mj), and the
    * ⌊est·1000+0.5⌋ fix-point.
    */
  private def hllSql(byLang: Boolean): String = {
    val k = if (byLang) "lang, " else ""
    s"WITH w AS (SELECT $k${OracleSql.termWords("text")} AS ws " +
      s"FROM documents), tok AS (SELECT ${k}unnest(ws) AS t FROM w), " +
      s"h AS (SELECT ${k}('0x' || substr(md5('hll:' || t), 1, 15))" +
      "::BIGINT AS h FROM tok), " +
      s"reg AS (SELECT ${k}h % 512 AS bucket, max(52 - length(ltrim(" +
      "bin(h >> 9), '0'))) AS maxrho FROM h GROUP BY " +
      (if (byLang) "1, 2), " else "1), ") +
      s"s AS (SELECT ${k}CAST(count(*) AS BIGINT) AS n_nonempty, " +
      "CAST(coalesce(sum(CAST(power(2, 52 - maxrho) AS BIGINT)), 0) " +
      "AS BIGINT) AS hsum FROM reg" + (if (byLang) " GROUP BY 1" else "") +
      "), " +
      s"f AS (SELECT ${k}CAST(512 AS BIGINT) AS m, n_nonempty, " +
      "CAST(512 - n_nonempty AS BIGINT) AS zeros, " +
      "CAST(hsum + (512 - n_nonempty) * 4503599627370496 AS BIGINT) " +
      "AS harmonic_num FROM s), " +
      "e AS (SELECT *, CASE WHEN 0.7213/(1+1.079/512.0)*512.0*512.0*" +
      "4503599627370496.0/harmonic_num <= 1280.0 AND zeros > 0 " +
      "THEN 512.0 * ln(512.0/zeros) ELSE 0.7213/(1+1.079/512.0)*512.0*" +
      "512.0*4503599627370496.0/harmonic_num END AS est FROM f) " +
      s"SELECT ${k}m, n_nonempty, zeros, harmonic_num, " +
      "CAST(floor(est * 1000.0 + 0.5) AS BIGINT) AS est_x1000 FROM e" +
      (if (byLang) " ORDER BY lang" else "")
  }

  /** HLL distinct-token cardinality over `documents.text` — exact
    * `count(distinct)` shuffles every distinct token; this shuffles ≤
    * 2^p register rows (map-side-combined max) and union-merges across
    * shards. FULLY replayed in SQL: the 60-bit md5-prefix hash, the
    * `bin`/`ltrim` leading-zero rank, the register maxima, the INTEGER
    * harmonic sum Σ 2^(R−Mj), and the ⌊est·1000+0.5⌋ fix-point are the
    * same arithmetic on both engines — no "approx doesn't hash" escape
    * hatch (the CMS house rule).
    */
  val hllDistinct: QueryDef = QueryDef("hll_distinct_tokens",
    (s, dir) => {
      import graft.analysis.{Sketch, TermStats}
      val toks = Queries.table(s, dir, "documents")
        .select(explode(TermStats.words(col("text"))).as("tok"))
      Sketch.hllEstimate(Sketch.hllRegisters(toks, "tok", HllP), HllP)
    },
    Some(hllSql(byLang = false)))

  /** Semantic decontamination: benchmark = every 17th embedding (mod
    * 3), tau=0.9 — benchmark members are corpus rows too, so each is
    * its own >= tau witness (cos(v,v) up to sqrt rounding), and any
    * genuine near-copy of an eval vector joins them; output is the
    * integer hit count + flag per corpus row.
    */
  val deconEmbedding: QueryDef = QueryDef("decon_embedding",
    (s, dir) => {
      val emb = Queries.table(s, dir, "embeddings")
      graft.analysis.Decon.embeddingContaminated(
        emb, emb.where(col("vec_id") % 17 === 3), "vec_id", "embedding",
        0.9)
        .orderBy("vec_id")
    },
    Some("WITH b AS (SELECT embedding::DOUBLE[] AS be FROM embeddings " +
      "WHERE vec_id % 17 = 3), " +
      "c AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings) " +
      // left join on the guarded hit predicate — mirrors the engine's
      // zero-norm guard + per-row contract (ADVICE r9)
      "SELECT c.vec_id, CAST(count(b.be) AS BIGINT) AS n_hits, " +
      "count(b.be) > 0 AS contaminated FROM c LEFT JOIN b ON " +
      "list_dot_product(c.ce, c.ce) > 0 AND " +
      "list_dot_product(b.be, b.be) > 0 AND " +
      "list_dot_product(c.ce, b.be) / (sqrt(list_dot_product(c.ce, c.ce))" +
      " * sqrt(list_dot_product(b.be, b.be))) >= 0.9 " +
      "GROUP BY 1 ORDER BY vec_id"))

  /** Per-language vocabulary sizes — the grouped-sketch data-card line:
    * one map-side-combined pass yields an independent 512-register
    * sketch per language (≤ |langs|·512 rows shuffle), same fix-point
    * arithmetic per group.
    */
  val hllVocabByLang: QueryDef = QueryDef("hll_vocab_by_lang",
    (s, dir) => {
      import graft.analysis.{Sketch, TermStats}
      val toks = Queries.table(s, dir, "documents")
        .select(col("lang"),
          explode(TermStats.words(col("text"))).as("tok"))
      Sketch.hllEstimateBy(
        Sketch.hllRegistersBy(toks, Seq("lang"), "tok", HllP),
        Seq("lang"), HllP)
        .orderBy("lang")
    },
    Some(hllSql(byLang = true)))

  val all: Seq[QueryDef] = Seq(taTokens, taQuality, taLangId, taFingerprint,
    taLineDedup, taGopher, taUrls, hhTopNgrams, taTfIdf, boilerplateRemoval,
    compressRatio, deconOverlap, lenHistogram, corpusCard, deconBloom,
    c4Filter, cmsTopNgrams, hllDistinct, deconEmbedding, hllVocabByLang)
}
