package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.ArrowDataset

/** Source and ingestion oracle queries: the HF on-disk Arrow layouts,
  * WARC record splitting, snapshot deltas, and the incremental and
  * crawl ingestion compositions (WARC → HTML → C4 → dedup).
  */
object QueriesSources {

  private val d = "doc_id"

  // ---- HF `save_to_disk` / `load_from_disk` interop (S4) ----
  //
  // preprocessor.py:68,72. Each query saves the corpus in an HF on-disk
  // layout (Arrow IPC stream shards + state.json + dataset_info.json,
  // `sources/ArrowDataset.scala`) and loads it back through the arrow
  // reader; the oracle reads the ORIGINAL parquet, so a hash match
  // certifies every value survived the format conversion byte-exactly.
  // Interop with the real ecosystem is pinned separately:
  // ArrowDatasetSpec reads committed pyarrow-written fixtures (reader
  // direction) and tools/arrow_interop.py has pyarrow validate our
  // shards (writer direction, log committed).
  //
  //  - `s4_arrow_roundtrip` — the plain save path.
  //  - `s4_arrow_append` — the STREAMING publish path: the corpus arrives
  //    as three `appendBatch` micro-batches (split by doc_id mod 3, with
  //    batch 1 re-delivered once — the foreachBatch at-least-once case),
  //    and the loaded dataset must still hash-equal the source parquet:
  //    exactly-once convergence, manifest-ordered, value-faithful.
  //  - `s4_arrow_zstd` — the COMPRESSED save path (Arrow IPC body
  //    compression): at a 100 TB publish the uncompressed HF layout costs
  //    ~3× parquet bytes (PERF.md interop table); zstd closes that, and
  //    the hash certifies it is value-lossless through our writer AND
  //    reader. pyarrow reads the same shards transparently
  //    (tools/arrow_interop_r18.log).
  //  - `s3_dict_splits` — the HF DatasetDict layout (`dataset_dict.json` +
  //    one subdir per split): the reference's first act on a dict-shaped
  //    dataset is concatenating its splits (main.py:82, utils.py:173-176).
  //    The corpus is saved as a 2-split dict (doc_id parity) and loaded
  //    back through the dict-sniffing reader, which unions in dict order,
  //    so the hash certifies no row is lost or duplicated across the
  //    split boundary.

  /** Saves the corpus once per run into the side channel `arrow_<tag>`
    * and loads it back on every run: each run's writer makes the shards
    * its loads read.
    */
  private def arrowQuery(name: String, tag: String)(
      save: (DataFrame, String) => Unit): QueryDef = QueryDef(name,
    (s, dir) => {
      SideChannel.writeOnce(dir, s"arrow_$tag")(
        save(Queries.table(s, dir, "documents"), _))
      ArrowDataset.load(s, SideChannel.path(s"arrow_$tag"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    },
    Some("SELECT doc_id, text, lang, source, n_chars FROM documents"))

  val s4ArrowRoundTrip: QueryDef =
    arrowQuery("s4_arrow_roundtrip", "rt") { (docs, out) =>
      ArrowDataset.save(docs.repartition(4, col("doc_id")), out)
    }

  val s4ArrowAppend: QueryDef =
    arrowQuery("s4_arrow_append", "append") { (docs, out) =>
      def slice(k: Int) = docs.where(col("doc_id") % 3 === k)
        .repartition(2, col("doc_id"))
      (0 to 2).foreach(k => ArrowDataset.appendBatch(slice(k), out, k.toLong))
      ArrowDataset.appendBatch(slice(1), out, 1L) // replay batch 1
    }

  val s4ArrowZstd: QueryDef =
    arrowQuery("s4_arrow_zstd", "zstd") { (docs, out) =>
      ArrowDataset.save(docs.repartition(4, col("doc_id")), out,
        compression = "zstd")
    }

  val s3DictSplits: QueryDef =
    arrowQuery("s3_dict_splits", "dict") { (docs, out) =>
      def split(parity: Int) = docs.where(col("doc_id") % 2 === parity)
        .repartition(2, col("doc_id"))
      // dict-sniffing load unions the splits (the reference's
      // concatenate-splits semantics) — every doc exactly once
      ArrowDataset.saveDict(Seq("train" -> split(0), "test" -> split(1)),
        out)
    }

  // ---- WARC record split ----

  /** Genuine WARC bytes per doc, layout varied to exercise the parser:
    * a warcinfo record + a conversion (WET) record with header ORDER
    * swapped by doc parity, an unknown WARC-Date header on ≡0 mod 3,
    * and a TRUNCATED trailing record (declared length past the buffer)
    * on ≡0 mod 4 that the parser must refuse to emit.
    */
  private def warcDocSpark: org.apache.spark.sql.Column = {
    val crlf = "\r\n"
    val p0 = concat(lit("software: graft 1.0 run "), col(d).cast("string"))
    val p1 = substring(col("text"), 1, 80)
    def h(k: String, v: org.apache.spark.sql.Column) =
      concat(lit(k + ": "), v, lit(crlf))
    val even = col(d) % 2 === 0
    val date = when(col(d) % 3 === 0,
      lit("WARC-Date: 2026-08-14T00:00:00Z" + crlf)).otherwise(lit(""))
    val hType0 = lit("WARC-Type: warcinfo" + crlf)
    val hLen0 = h("Content-Length", length(p0).cast("string"))
    val rec0 = concat(lit("WARC/1.0" + crlf),
      when(even, concat(hType0, date, hLen0))
        .otherwise(concat(hLen0, hType0, date)),
      lit(crlf), p0, lit(crlf + crlf))
    val hType1 = lit("WARC-Type: conversion" + crlf)
    val hUri1 = h("WARC-Target-URI",
      concat(lit("https://example.org/doc/"), col(d).cast("string")))
    val hLen1 = h("Content-Length", length(p1).cast("string"))
    val rec1 = concat(lit("WARC/1.0" + crlf),
      when(even, concat(hType1, hUri1, hLen1))
        .otherwise(concat(hUri1, hLen1, hType1)),
      lit(crlf), p1, lit(crlf + crlf))
    val trunc = when(col(d) % 4 === 0,
      lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
        "Content-Length: 999999" + crlf + crlf + "short"))
      .otherwise(lit(""))
    concat(rec0, rec1, trunc).cast("binary")
  }

  /** WARC/WET record split — construction-inverting oracle (the WAV/MP4
    * pattern): the query BUILDS genuine WARC bytes and parses them with
    * the real record walker; DuckDB recomputes every field
    * arithmetically from the same construction WITHOUT parsing, so any
    * header-order / case / truncation / cursor bug breaks the hash.
    */
  val warcRecords: QueryDef = QueryDef("warc_records",
    (s, dir) => {
      val parsed = Queries.table(s, dir, "documents")
        .withColumn("_recs",
          graft.sources.Warc.recordsUdf(warcDocSpark))
      parsed.select(col(d), posexplode(col("_recs")).as(Seq("rec", "r")))
        .select(col(d), col("rec"), col("r.warc_type"),
          col("r.target_uri"), col("r.content_length"), col("r.payload"))
        .orderBy(d, "rec")
    },
    Some("SELECT doc_id, rec, warc_type, target_uri, content_length, " +
      "payload FROM (" +
      "SELECT doc_id, 0 AS rec, 'warcinfo' AS warc_type, " +
      "'' AS target_uri, CAST(strlen('software: graft 1.0 run ' " +
      "|| doc_id) AS BIGINT) AS content_length, " +
      "'software: graft 1.0 run ' || doc_id AS payload FROM documents " +
      "UNION ALL " +
      "SELECT doc_id, 1, 'conversion', " +
      "'https://example.org/doc/' || doc_id, " +
      "CAST(strlen(substr(text, 1, 80)) AS BIGINT), " +
      "substr(text, 1, 80) FROM documents) ORDER BY doc_id, rec"))

  /** Snapshot delta: old = documents minus every 11th id; new =
    * documents minus every 13th-mod-5 id, with every 7th-mod-2 text
    * amended — so all three statuses appear and interact (an id can be
    * simultaneously absent-from-old and absent-from-new, which must
    * emit NOTHING, covered by ids ≡ 0 mod 11 ∧ ≡ 5 mod 13).
    */
  val snapshotDiff: QueryDef = QueryDef("snapshot_diff",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      val old = docs.where(col(d) % 11 =!= 0).select(col(d), col("text"))
      val neu = docs.where(col(d) % 13 =!= 5).select(col(d),
        when(col(d) % 7 === 2, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      graft.sources.Sources.snapshotDiff(old, neu, d, "text")
        .orderBy(d)
    },
    Some("WITH o AS (SELECT doc_id, text FROM documents WHERE " +
      "doc_id % 11 <> 0), " +
      "n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 2 THEN text || ' v2' " +
      "ELSE text END AS text FROM documents WHERE doc_id % 13 <> 5), " +
      "j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
      "o.doc_id IS NULL AS no_old, n.doc_id IS NULL AS no_new, " +
      "o.text AS ot, n.text AS nt FROM o FULL OUTER JOIN n " +
      "ON o.doc_id = n.doc_id) " +
      "SELECT doc_id, CASE WHEN no_old THEN 'added' WHEN no_new THEN " +
      "'removed' WHEN ot <> nt THEN 'changed' END AS status FROM j " +
      "WHERE no_old OR no_new OR ot <> nt ORDER BY doc_id"))

  /** The incremental-ingestion E2E: snapshot delta → increment rows →
    * Bloom dedup against the retained old corpus → keep-first exact
    * dedup WITHIN the increment — the nightly-dump path a 100 TB corpus
    * actually runs (|delta| work, not |corpus|). Every stage is an
    * already-oracled operator; this query pins their COMPOSITION with a
    * full SQL replay (the Bloom coincides with the exact anti-join at
    * fpp=1e-9 — the dedup_bloom_against argument). The construction
    * makes every stage demonstrably fire: ≡3 mod 19 docs carry a
    * 2-class "seed" text in BOTH snapshots (unchanged when retained —
    * must NOT enter the delta — but an ADDED seed doc collides with the
    * old corpus and drops at the Bloom); ≡4 mod 23 docs CHANGE to seed
    * text (a revert-to-existing-content edit — also Bloom-dropped);
    * ≡6 mod 29 docs change to a 2-class "fresh" text absent from old,
    * so their twins survive the Bloom together and collapse to the min
    * doc_id at the within-increment keep-first.
    */
  val incrIngest: QueryDef = QueryDef("incr_ingest_e2e",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      val two = (col(d) % 2).cast("string")
      val seed = concat(lit("seed-"), two)
      val old = docs.where(col(d) % 11 =!= 0).select(col(d),
        when(col(d) % 19 === 3, seed).otherwise(col("text")).as("text"))
      val neu = docs.where(col(d) % 13 =!= 5).select(col(d),
        when(col(d) % 19 === 3, seed)
          .when(col(d) % 23 === 4, seed)
          .when(col(d) % 29 === 6, concat(lit("fresh-"), two))
          .when(col(d) % 7 === 2, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      val delta = graft.sources.Sources.snapshotDiff(old, neu, d, "text")
        .where(col("status").isin("added", "changed"))
      val increment = neu.join(delta, Seq(d))
      // expectedItems <= 0 auto-sizes the Bloom from the measured old-
      // corpus count (ADVICE r9: a hardcoded 10000 was 4.5× oversubscribed
      // at sf1, silently degrading fpp and dropping fresh rows there)
      val fresh = graft.dedup.ExactDedup.bloomDedupAgainst(
        increment, old, "text", expectedItems = 0L)
      graft.dedup.ExactDedup.deduplicate(fresh, Seq(col("text")), col(d))
        .select(col(d), col("status"))
        .orderBy(d)
    },
    Some("WITH o AS (SELECT doc_id, CASE WHEN doc_id % 19 = 3 THEN " +
      "'seed-' || (doc_id % 2) ELSE text END AS text FROM documents " +
      "WHERE doc_id % 11 <> 0), " +
      "n AS (SELECT doc_id, CASE WHEN doc_id % 19 = 3 THEN 'seed-' || " +
      "(doc_id % 2) WHEN doc_id % 23 = 4 THEN 'seed-' || (doc_id % 2) " +
      "WHEN doc_id % 29 = 6 THEN 'fresh-' || (doc_id % 2) " +
      "WHEN doc_id % 7 = 2 THEN text || ' v2' " +
      "ELSE text END AS text FROM documents WHERE doc_id % 13 <> 5), " +
      "j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
      "o.doc_id IS NULL AS no_old, n.doc_id IS NULL AS no_new, " +
      "o.text AS ot, n.text AS nt FROM o FULL OUTER JOIN n " +
      "ON o.doc_id = n.doc_id), " +
      "delta AS (SELECT doc_id, CASE WHEN no_old THEN 'added' " +
      "WHEN ot <> nt THEN 'changed' END AS status FROM j " +
      "WHERE no_old OR (NOT no_new AND ot <> nt)), " +
      "inc AS (SELECT n.doc_id, n.text, delta.status FROM n " +
      "JOIN delta USING (doc_id)), " +
      "fresh AS (SELECT * FROM inc WHERE text NOT IN " +
      "(SELECT text FROM o)) " +
      "SELECT doc_id, status FROM fresh QUALIFY row_number() OVER " +
      "(PARTITION BY text ORDER BY doc_id) = 1 ORDER BY doc_id"))

  // ---- crawl-ingestion E2E composition ----

  private val BoilerHtml = "<html><head><title>Shared Boiler</title>" +
    "</head><body><p>this shared boilerplate page repeats across the " +
    "whole crawl corpus today.</p><p>its second sentence also carries " +
    "enough words to pass the filter.</p><p>and a third sentence keeps " +
    "the document gate satisfied nicely.</p></body></html>"

  /** Genuine markup per doc, C4-hostile by construction: a 2-word title
    * line and a 2-word heading (C4 word-count kills), a good first
    * sentence, a doc_id-conditional script (extractor must elide), a
    * 2-word "short line.", a no-terminal-punct line, an even-doc-only
    * third sentence (the document gate hinges on it), a conditional
    * comment, and a closing sentence. ≡0 mod 9 docs are a constant
    * boilerplate page (passes the gate, collapses at dedup).
    */
  private def crawlHtmlSpark: org.apache.spark.sql.Column = {
    val normal = concat(
      lit("<html><head><title>Crawl "), col(d).cast("string"),
      lit("</title><style type=\"text/css\">p red</style></head><body>" +
        "<h1>Heading "),
      col(d).cast("string"), lit("</h1><p>"),
      substring(col("text"), 1, 60), lit(" ends with a period today.</p>"),
      when(col(d) % 3 === 0, lit("<script>var page = 1;</script>"))
        .otherwise(lit("")),
      lit("<p>short line.</p><p>"),
      substring(col("text"), 61, 50), lit(" has no terminal punctuation</p>"),
      when(col(d) % 2 === 0, lit("<p>an extra closing sentence appears " +
        "here for even documents.</p>")).otherwise(lit("")),
      when(col(d) % 4 === 0, lit("<!-- tracking comment -->"))
        .otherwise(lit("")),
      lit("<p>"), substring(col("text"), 111, 60),
      lit(" wraps the final sentence correctly.</p></body></html>"))
    when(col(d) % 9 === 0, lit(BoilerHtml)).otherwise(normal)
  }

  /** One genuine WARC conversion record per doc wrapping the HTML page
    * (version line, headers, measured Content-Length, CRLF framing).
    */
  private def crawlWarcSpark: org.apache.spark.sql.Column = {
    val crlf = "\r\n"
    val html = crawlHtmlSpark
    concat(
      lit("WARC/1.0" + crlf + "WARC-Type: conversion" + crlf +
        "WARC-Target-URI: https://crawl.example/p/"),
      col(d).cast("string"), lit(crlf + "Content-Length: "),
      length(html).cast("string"), lit(crlf + crlf),
      html, lit(crlf + crlf)).cast("binary")
  }

  /** The crawl-ingestion COMPOSITION (VERDICT r9 #2): WARC record split →
    * HTML text extraction → C4 line filter + document gate → keep-first
    * exact dedup, chained the way a Common Crawl pipeline actually runs —
    * the individual stages are already oracled (`warc_records`,
    * `html_extract`, `c4_line_filter`), this query pins that they COMPOSE
    * (the `incr_ingest_e2e` standard). Every stage demonstrably fires:
    * the parser strips real WARC framing (headers never reach the page
    * text), the extractor elides script/style/comment and splits blocks,
    * C4 kills the title/heading/short/no-terminal lines, the 3-sentence
    * gate admits even docs and boilerplate pages only, and dedup
    * collapses the ≡0 mod 9 boilerplate class to its min doc_id. DuckDB
    * composes the expected output from the same pieces without parsing a
    * byte (the construction-inverting pattern all three stages use
    * individually).
    */
  val crawlIngest: QueryDef = QueryDef("crawl_ingest_e2e",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      val pages = docs
        .withColumn("_recs", graft.sources.Warc.recordsUdf(crawlWarcSpark))
        .select(col(d),
          element_at(col("_recs"), 1).getField("payload").as("_html"))
      val extracted = pages.select(col(d),
        graft.text.Html.extractUdf(col("_html")).as("_page"))
      val kept = graft.analysis.C4Filters.c4Signals(extracted, d, "_page")
        .where(col("keep"))
        .select(col(d), col("text_out"))
      graft.dedup.ExactDedup.deduplicate(kept, Seq(col("text_out")), col(d))
        .orderBy(d)
    },
    Some("WITH raw AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0 THEN " +
      "'Shared Boiler' || chr(10) || " +
      "'this shared boilerplate page repeats across the whole crawl " +
      "corpus today.' || chr(10) || " +
      "'its second sentence also carries enough words to pass the " +
      "filter.' || chr(10) || " +
      "'and a third sentence keeps the document gate satisfied nicely.' " +
      "ELSE " +
      "'Crawl ' || doc_id || chr(10) || 'Heading ' || doc_id || chr(10) " +
      "|| substr(text, 1, 60) || ' ends with a period today.' || chr(10) " +
      "|| 'short line.' || chr(10) || substr(text, 61, 50) || " +
      "' has no terminal punctuation' || chr(10) || " +
      "(CASE WHEN doc_id % 2 = 0 THEN 'an extra closing sentence appears " +
      "here for even documents.' || chr(10) ELSE '' END) || " +
      "substr(text, 111, 60) || ' wraps the final sentence correctly.' " +
      "END AS t0 FROM documents), " +
      // the extractor's whitespace normalization (the html_extract oracle)
      "ext AS (SELECT doc_id, " + OracleSql.htmlNormalize("t0") +
      " AS t FROM raw), " +
      // the C4 line grammar + document gate (the c4_line_filter oracle)
      "c4 AS (SELECT doc_id, t, " + OracleSql.c4CleanLines("t") +
      " AS text_out FROM ext), " +
      "g AS (SELECT doc_id, text_out FROM c4 WHERE " +
      "CAST(len(regexp_split_to_array(text_out, '[.!?]')) - 1 AS INT) " +
      ">= 3 AND instr(lower(t), 'lorem ipsum') = 0 AND " +
      "instr(t, '{') = 0) " +
      "SELECT doc_id, text_out FROM g QUALIFY row_number() OVER " +
      "(PARTITION BY text_out ORDER BY doc_id) = 1 ORDER BY doc_id"))

  val all: Seq[QueryDef] = Seq(s4ArrowRoundTrip, s4ArrowAppend, s4ArrowZstd,
    s3DictSplits, warcRecords, snapshotDiff, incrIngest, crawlIngest)
}
