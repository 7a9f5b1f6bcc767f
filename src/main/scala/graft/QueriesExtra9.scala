package graft

import org.apache.spark.sql.functions._

import graft.dedup.{MinHashConfig, MinHashDedup}

/** Round-10 additions: incremental near-dedup against a persisted
  * banded-signature store (|delta|-cost nightly ingestion — VERDICT r9
  * #1), the crawl-ingestion composition (WARC → HTML → C4 → dedup), and
  * IVF-PQ promoted to an oracled suite query.
  */
object QueriesExtra9 {

  private val d = "doc_id"

  /** 2^62 — the increment side's id offset (every store id orders below
    * every increment id, so keep-first can never prefer a new row over a
    * retained one). DuckDB BIGINT carries it exactly.
    */
  private val Off = MinHashDedup.NewIdOffset

  private val IncrCfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)

  /** A 36-word constant base shared between retained "seed" docs and the
    * increment's exact/near variants: long enough that a two-token edit
    * keeps 3-gram shingle Jaccard ≈ 0.95, which the (25, 10) banding
    * catches with near-certainty — and MinHash is DETERMINISTIC, so
    * "near-certainty" is a fixed, replayable outcome, not a coin flip
    * (the spec pins that the near-dup stage actually fires).
    */
  private val LongBase = "the quick shared paragraph that appears across " +
    "many crawled pages talks about data pipelines shuffling partitions " +
    "and joining tables while keeping every band signature stable for " +
    "deterministic replay of the whole clustering chain end to end"

  private def storePath(key: String) = s"/tmp/graft_dedup_store_incrnear_$key"

  /** Retained corpus: every non-(≡0 mod 11) doc, with ≡3 mod 19 docs
    * carrying the two-parity seed text the increment collides with.
    */
  private def refFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Queries.table(s, dir, "documents")
    docs.where(col(d) % 11 =!= 0).select(col(d),
      when(col(d) % 19 === 3,
        concat(lit(LongBase + " variant "), (col(d) % 2).cast("string")))
        .otherwise(col("text")).as("text"))
  }

  private val incTextSpark = when(col(d) % 19 === 3,
      concat(lit(LongBase + " variant "), (col(d) % 2).cast("string")))
    .when(col(d) % 7 === 2,
      concat(lit(LongBase + " altered "), (col(d) % 2).cast("string")))
    .when(col(d) % 5 === 1,
      concat(lit("fresh fresh fresh delta epsilon zeta "),
        (col(d) % 2).cast("string")))
    .otherwise(col("text"))

  private val incTextSql =
    s"CASE WHEN doc_id % 19 = 3 THEN '$LongBase variant ' || (doc_id % 2) " +
      s"WHEN doc_id % 7 = 2 THEN '$LongBase altered ' || (doc_id % 2) " +
      "WHEN doc_id % 5 = 1 THEN 'fresh fresh fresh delta epsilon zeta ' " +
      "|| (doc_id % 2) ELSE text END"

  /** Incremental NEAR-dedup at |delta| cost (VERDICT r9 #1): the retained
    * corpus's banded-signature store is built ONCE per (JVM, scale) —
    * nightly state, not per-run work — and the timed query computes
    * signatures for the ≡0 mod 11 increment only, band-joins them against
    * the store, and keep-first-dedups within the increment. Constructed so
    * every path fires: ≡3 mod 19 increment docs are EXACT copies of
    * retained seeds (identical signatures → all 25 bands collide), ≡2
    * mod 7 docs are two-token NEAR variants of those seeds (LSH collision
    * without text equality), ≡1 mod 5 docs form a fresh two-parity
    * exact-dup class absent from the store (within-increment keep-first),
    * and the rest are genuinely fresh corpus texts. The oracle re-derives
    * the ENTIRE decision from the two exported signature frames: bucket-min
    * edges within the increment, identical/short-class edges from the
    * reconstructed increment texts, store collisions via the same
    * (band, bsig) join, transitive closure, component-min roots, and the
    * root-below-offset death rule.
    */
  val incrNearDedup: QueryDef = QueryDef("incr_near_dedup",
    (s, dir) => {
      val key = QueriesExtra2.scaleKey(dir)
      if (SideChannel.once(storePath(key)).isDefined) {
        MinHashDedup.exportBandedStore(refFrame(s, dir), "text",
          storePath(key), IncrCfg, orderCol = Some(d))
        SideChannel.record(storePath(key))
      }
      val store = s.read.parquet(storePath(key))
      val docs = Queries.table(s, dir, "documents")
      val inc = docs.where(col(d) % 11 === 0)
        .select(col(d), incTextSpark.as("text"))
      SideChannel.exportOnce(QueriesExtra2.bandedPath("incrnear", key))(
        MinHashDedup.bandedFrame(inc, "text", IncrCfg, Some(d), Off))
      MinHashDedup.deduplicateAgainstStore(inc, store, "text", IncrCfg,
        orderCol = Some(d))
        .select(col(d))
        .orderBy(d)
    },
    Some {
      val incGlob = QueriesExtra2
        .bandedPath("incrnear", QueriesExtra2.OracleScaleKey) + "/*.parquet"
      val stGlob = storePath(QueriesExtra2.OracleScaleKey) + "/*.parquet"
      "WITH RECURSIVE " +
        s"dsrc AS (SELECT doc_id + $Off AS id, $incTextSql AS t " +
        "FROM documents WHERE doc_id % 11 = 0), " +
        s"bnd AS (SELECT id, band, bsig FROM parquet_scan('$incGlob')), " +
        "lshm AS (SELECT id, min(id) OVER (PARTITION BY band, bsig) " +
        "AS mn FROM bnd), " +
        "lshe AS (SELECT DISTINCT id AS a, mn AS b FROM lshm " +
        "WHERE id <> mn), " +
        "tokc AS (SELECT id, len(regexp_split_to_array(coalesce(t, ''), " +
        "'[^A-Za-z_0-9]')) < 3 AS sh, coalesce(t, '') AS tt FROM dsrc), " +
        "cmk AS (SELECT id, min(id) OVER (PARTITION BY sh, CASE WHEN sh " +
        "THEN '' ELSE tt END) AS kmin FROM tokc), " +
        "ide AS (SELECT id AS a, kmin AS b FROM cmk WHERE id <> kmin), " +
        s"st AS (SELECT band, bsig, id AS sid FROM parquet_scan('$stGlob')), " +
        "crs AS (SELECT DISTINCT b.id AS a, st.sid AS b FROM bnd b " +
        "JOIN st USING (band, bsig)), " +
        "e0 AS (SELECT a, b FROM lshe UNION SELECT a, b FROM ide " +
        "UNION SELECT a, b FROM crs), " +
        QueriesExtra2.closureFromE0 + " " +
        s"SELECT d.id - $Off AS doc_id FROM dsrc d " +
        "LEFT JOIN root r ON d.id = r.id " +
        "WHERE r.root IS NULL OR r.root = d.id ORDER BY doc_id"
    })

  // ---- retention / takedown E2E ----

  /** A whole retained content class removed by takedown: constant (no
    * parity split), long enough to shingle at n=3, quote-free so it
    * embeds in a DuckDB string literal verbatim.
    */
  private val GoneText = "this entire retained content class was removed " +
    "by a takedown request and every single copy of it must vanish from " +
    "the published deduplication store after the journal compaction runs"

  /** Retained corpus for the retention E2E: ≡3 mod 19 docs carry the
    * two-parity seed text (class minima 3 — odd/variant-1 — and 60 —
    * even/variant-0, since 22 is excluded by the % 11 corpus filter);
    * ≡5 mod 23 docs (that are not seeds — the when-chain order) carry
    * the constant [[GoneText]] class.
    */
  private def retRefFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Queries.table(s, dir, "documents")
    docs.where(col(d) % 11 =!= 0).select(col(d),
      when(col(d) % 19 === 3,
        concat(lit(LongBase + " variant "), (col(d) % 2).cast("string")))
        .when(col(d) % 23 === 5, lit(GoneText))
        .otherwise(col("text")).as("text"))
  }

  private val retIncTextSpark = when(col(d) % 19 === 3,
      concat(lit(LongBase + " variant "), (col(d) % 2).cast("string")))
    .when(col(d) % 23 === 5, lit(GoneText))
    .otherwise(col("text"))

  private val retIncTextSql =
    s"CASE WHEN doc_id % 19 = 3 THEN '$LongBase variant ' || (doc_id % 2) " +
      s"WHEN doc_id % 23 = 5 THEN '$GoneText' ELSE text END"

  /** The retention/takedown E2E (VERDICT r13 #2 / r14 #1): full banded
    * journal of the retained corpus → takedown delete (including BOTH
    * seed-class bucket-min ids 3 and 60, and the ENTIRE GoneText class)
    * → journal compaction → incremental dedup of a new batch against the
    * compacted store. Every retention semantic demonstrably fires:
    *  - bucket-min PROMOTION: deleting minima 3/60 re-derives the seed
    *    buckets' min as the next surviving member (41 odd / 98 even), so
    *    the increment's exact seed copies (22, 231, 440 at sf0.01; more
    *    at sf0.1) still COLLIDE and die — a takedown of one copy never
    *    whitelists content other retained rows still carry. A compaction
    *    that stranded or dropped deleted-min buckets would let them
    *    survive → hash mismatch.
    *  - bucket EMPTYING: the GoneText class is deleted whole, its
    *    buckets vanish from the compacted store, and the increment's
    *    GoneText copies (143, 396, …) survive the store join — removed
    *    content is re-ingestable — then collapse within the increment
    *    to the min doc_id (the keep-first stage fires on them).
    * The oracle replays the ENTIRE decision in DuckDB from two exported
    * frames: the journal (delete filter + groupBy-min compaction = the
    * store, re-derived in SQL) and the increment's banded signatures
    * (bucket-min edges + identical-class edges + store collisions +
    * transitive closure + the root-below-offset death rule — the
    * incr_near_dedup chain). Reference anchor: the persisted
    * hashtable/union-find state a takedown invalidates,
    * minhash_deduplication.py:264-280.
    */
  val incrRetention: QueryDef = QueryDef("incr_retention_e2e",
    (s, dir) => {
      val key = QueriesExtra2.scaleKey(dir)
      // The journal is PERSISTED nightly state (the whole point of the
      // retention design): the first run in this JVM computes and
      // publishes it (also feeding the oracle side-channel); later runs
      // — bench repetitions — read it back, so the timed op is the real
      // takedown cost (journal read + delete + compact + store dedup),
      // not a |corpus| re-signaturing the production pipeline never pays.
      val jPath = QueriesExtra2.bandedPath("retjournal", key)
      val journal = SideChannel.readBack(jPath)(MinHashDedup.bandedJournal(
        retRefFrame(s, dir), "text", IncrCfg, orderCol = Some(d)))
      val docs = Queries.table(s, dir, "documents")
      val delIds = docs.where(col(d).isin(3, 60) ||
        (col(d) % 23 === 5 && col(d) % 19 =!= 3)).select(col(d))
      val store = MinHashDedup.compactJournal(
        MinHashDedup.deleteFromJournal(journal, delIds))
      val inc = docs.where(col(d) % 11 === 0)
        .select(col(d), retIncTextSpark.as("text"))
      SideChannel.exportOnce(QueriesExtra2.bandedPath("retinc", key))(
        MinHashDedup.bandedFrame(inc, "text", IncrCfg, Some(d), Off))
      MinHashDedup.deduplicateAgainstStore(inc, store, "text", IncrCfg,
        orderCol = Some(d))
        .select(col(d))
        .orderBy(d)
    },
    Some {
      val jGlob = QueriesExtra2
        .bandedPath("retjournal", QueriesExtra2.OracleScaleKey) +
        "/*.parquet"
      val incGlob = QueriesExtra2
        .bandedPath("retinc", QueriesExtra2.OracleScaleKey) + "/*.parquet"
      "WITH RECURSIVE " +
        s"dsrc AS (SELECT doc_id + $Off AS id, $retIncTextSql AS t " +
        "FROM documents WHERE doc_id % 11 = 0), " +
        // takedown replayed on the raw journal, NOT on engine output:
        // the delete filter and the bucket-min compaction both re-derive
        // in SQL, so a broken deleteFromJournal/compactJournal diverges
        s"jr AS (SELECT band, bsig, id FROM parquet_scan('$jGlob') " +
        "WHERE NOT (id IN (3, 60) OR (id % 23 = 5 AND id % 19 <> 3))), " +
        "st AS (SELECT band, bsig, min(id) AS sid FROM jr " +
        "GROUP BY band, bsig), " +
        s"bnd AS (SELECT id, band, bsig FROM parquet_scan('$incGlob')), " +
        "lshm AS (SELECT id, min(id) OVER (PARTITION BY band, bsig) " +
        "AS mn FROM bnd), " +
        "lshe AS (SELECT DISTINCT id AS a, mn AS b FROM lshm " +
        "WHERE id <> mn), " +
        "tokc AS (SELECT id, len(regexp_split_to_array(coalesce(t, ''), " +
        "'[^A-Za-z_0-9]')) < 3 AS sh, coalesce(t, '') AS tt FROM dsrc), " +
        "cmk AS (SELECT id, min(id) OVER (PARTITION BY sh, CASE WHEN sh " +
        "THEN '' ELSE tt END) AS kmin FROM tokc), " +
        "ide AS (SELECT id AS a, kmin AS b FROM cmk WHERE id <> kmin), " +
        "crs AS (SELECT DISTINCT b.id AS a, st.sid AS b FROM bnd b " +
        "JOIN st USING (band, bsig)), " +
        "e0 AS (SELECT a, b FROM lshe UNION SELECT a, b FROM ide " +
        "UNION SELECT a, b FROM crs), " +
        QueriesExtra2.closureFromE0 + " " +
        s"SELECT d.id - $Off AS doc_id FROM dsrc d " +
        "LEFT JOIN root r ON d.id = r.id " +
        "WHERE r.root IS NULL OR r.root = d.id ORDER BY doc_id"
    })

  /** The hamming-family twin of [[incrRetention]] (same corpus
    * construction, same takedown set, the OTHER journal family): simhash
    * `sigJournal` of the retained corpus → delete incl. both seed-class
    * bucket-min ids and the whole GoneText class → `compactSigJournal`
    * → `deduplicateAgainstSigStore`. Promotion and emptying fire by the
    * identical argument (identical seed texts ⇒ identical 64-bit
    * signatures ⇒ one journal sig class per parity with min 3/60). The
    * oracle needs NO text reconstruction — the whole decision derives
    * from two exported (id, sig) frames: the journal (delete filter +
    * groupBy-min compaction in SQL) and the increment signatures
    * (identical-sig collapse, pigeonhole band pairs, store cross edges
    * at hamming ≤ 3, closure, root-below-offset death — the
    * `incr_img_dedup` chain). Anchor: `SimHash.scala:382-400`.
    */
  val incrSigRetention: QueryDef = QueryDef("incr_sig_retention_e2e",
    (s, dir) => {
      import graft.dedup.SimHash
      val key = QueriesExtra2.scaleKey(dir)
      // persisted-journal read-back on bench reps — see [[incrRetention]]
      val jPath = QueriesExtra2.sigPath("retsigjournal", key)
      val journal = SideChannel.readBack(jPath)(SimHash.sigJournal(
        retRefFrame(s, dir), "text", SimHash.signature, Some(d)))
      val docs = Queries.table(s, dir, "documents")
      val delIds = docs.where(col(d).isin(3, 60) ||
        (col(d) % 23 === 5 && col(d) % 19 =!= 3)).select(col(d))
      val store = SimHash.compactSigJournal(
        SimHash.deleteFromSigJournal(journal, delIds))
      val inc = docs.where(col(d) % 11 === 0)
        .select(col(d), retIncTextSpark.as("text"))
      SideChannel.exportOnce(QueriesExtra2.sigPath("retsiginc", key))(
        SimHash.sigFrame(inc, "text", SimHash.signature, Some(d), Off))
      SimHash.deduplicateAgainstSigStore(inc, store, "text",
        SimHash.signature, maxHamming = 3, orderCol = Some(d))
        .select(col(d))
        .orderBy(d)
    },
    Some {
      val jGlob = QueriesExtra2
        .sigPath("retsigjournal", QueriesExtra2.OracleScaleKey) +
        "/*.parquet"
      val incGlob = QueriesExtra2
        .sigPath("retsiginc", QueriesExtra2.OracleScaleKey) + "/*.parquet"
      "WITH RECURSIVE " +
        s"jr AS (SELECT id, sig FROM parquet_scan('$jGlob') " +
        "WHERE NOT (id IN (3, 60) OR (id % 23 = 5 AND id % 19 <> 3))), " +
        "st AS (SELECT sig, min(id) AS sid FROM jr GROUP BY sig), " +
        s"incs AS (SELECT id, sig FROM parquet_scan('$incGlob')), " +
        "inc AS (SELECT id, sig FROM incs WHERE sig IS NOT NULL), " +
        "cmu AS (SELECT id, sig, min(id) OVER (PARTITION BY sig) AS smin " +
        "FROM inc), " +
        "ide AS (SELECT id AS a, smin AS b FROM cmu WHERE id <> smin), " +
        "reps AS (SELECT id, sig FROM cmu WHERE id = smin), " +
        "bdr AS (SELECT id, sig, band, (sig >> (band * 16)) & 65535 AS " +
        "chunk FROM reps, LATERAL (SELECT unnest(generate_series(0, 3)) " +
        "AS band) g), " +
        "bda AS (SELECT id, sig, band, (sig >> (band * 16)) & 65535 AS " +
        "chunk FROM inc, LATERAL (SELECT unnest(generate_series(0, 3)) " +
        "AS band) g), " +
        "bds AS (SELECT sid, sig, band, (sig >> (band * 16)) & 65535 AS " +
        "chunk FROM st, LATERAL (SELECT unnest(generate_series(0, 3)) " +
        "AS band) g), " +
        "pr AS (SELECT y.id AS a, x.id AS b FROM bdr x JOIN bdr y ON " +
        "x.band = y.band AND x.chunk = y.chunk AND x.id < y.id " +
        "WHERE bit_count(xor(x.sig, y.sig)) <= 3), " +
        "crs AS (SELECT DISTINCT a.id AS a, s.sid AS b FROM bda a " +
        "JOIN bds s ON a.band = s.band AND a.chunk = s.chunk " +
        "WHERE bit_count(xor(a.sig, s.sig)) <= 3), " +
        "e0 AS (SELECT a, b FROM pr UNION SELECT a, b FROM ide " +
        "UNION SELECT a, b FROM crs), " +
        QueriesExtra2.closureFromE0 + " " +
        s"SELECT d.id - $Off AS doc_id FROM incs d " +
        "LEFT JOIN root r ON d.id = r.id " +
        "WHERE r.root IS NULL OR r.root = d.id ORDER BY doc_id"
    })

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
      "ext AS (SELECT doc_id, coalesce(list_aggregate(list_filter(" +
      "list_transform(string_split(t0, chr(10)), x -> trim(" +
      "regexp_replace(x, '[ \\t\\v\\f\\r]+', ' ', 'g'))), " +
      "x -> x <> ''), 'string_agg', chr(10)), '') AS t FROM raw), " +
      // the C4 line grammar + document gate (the c4_line_filter oracle)
      "c4 AS (SELECT doc_id, t, coalesce(list_aggregate(list_filter(" +
      "string_split(t, chr(10)), x -> substr(x, -1, 1) IN " +
      "('.', '!', '?', '\"') AND len(list_filter(" +
      "regexp_split_to_array(x, '\\s+'), w -> w <> '')) >= 5 AND " +
      "instr(lower(x), 'javascript') = 0), 'string_agg', chr(10)), '') " +
      "AS text_out FROM ext), " +
      "g AS (SELECT doc_id, text_out FROM c4 WHERE " +
      "CAST(len(regexp_split_to_array(text_out, '[.!?]')) - 1 AS INT) " +
      ">= 3 AND instr(lower(t), 'lorem ipsum') = 0 AND " +
      "instr(t, '{') = 0) " +
      "SELECT doc_id, text_out FROM g QUALIFY row_number() OVER " +
      "(PARTITION BY text_out ORDER BY doc_id) = 1 ORDER BY doc_id"))

  // ---- edit-distance dedup over a non-ASCII corpus ----

  /** The injected unicode corpus: vowels a/e/o become á/é/ø (BMP chars —
    * Spark UTF-16 length == codepoints == DuckDB len, so the astral-plane
    * length divergence stays out of scope by construction), and ≡0 mod 5
    * docs gain a ' ñ ök' tail so exact-dup text classes turn into
    * near-dup pairs whose Levenshtein path crosses multibyte characters.
    */
  private val uniTextSpark = concat(
    translate(substring(col("text"), 1, 120), "aeo", "áéø"),
    when(col(d) % 5 === 0, lit(" ñ ök")).otherwise(lit("")))

  private val uniTextSql =
    "translate(substr(text, 1, 120), 'aeo', 'áéø') || " +
      "(CASE WHEN doc_id % 5 = 0 THEN ' ñ ök' ELSE '' END)"

  /** Levenshtein-verified dedup with NON-ASCII text (VERDICT r9 #8): the
    * one documented blind spot of `dedup_edit_distance` was that Spark's
    * levenshtein counts CODEPOINT edits while DuckDB's counts BYTE edits,
    * so its oracle corpus was pinned to ASCII. Here the corpus is
    * deliberately accented and the oracle restores codepoint semantics
    * with a TRANSLATE BIJECTION: every injected non-ASCII codepoint maps
    * to a distinct ASCII char absent from the corpus ([a-z0-9_ ]-verified,
    * targets ~ @ # ^ =), so DuckDB's byte-Levenshtein over the translated
    * strings equals the codepoint distance over the originals, and the
    * normalized similarity (len() is codepoint-based on both engines)
    * replays bit-exactly.
    */
  val dedupEditDistUnicode: QueryDef = QueryDef("dedup_editdist_unicode",
    (s, dir) => {
      import graft.dedup.EditDistanceDedup
      val docs = Queries.table(s, dir, "documents")
        .select(col(d), uniTextSpark.as("text"))
      SideChannel.exportOnce(
        QueriesExtra2.bandedPath("editdistuni", QueriesExtra2.scaleKey(dir)))(
        EditDistanceDedup.bandedFrame(docs, "text", 5, MinHashConfig(),
          Some(d)))
      EditDistanceDedup.deduplicate(docs, "text", 5, 0.8, orderCol = Some(d))
        .select(d).orderBy(d)
    },
    Some {
      val glob = QueriesExtra2
        .bandedPath("editdistuni", QueriesExtra2.OracleScaleKey) +
        "/*.parquet"
      val tr = (c: String) => s"translate($c, 'áéøñö', '~@#^=')"
      s"WITH RECURSIVE bnd AS (SELECT id, band, bsig FROM " +
        s"parquet_scan('$glob')), " +
        "lshm AS (SELECT id, min(id) OVER (PARTITION BY band, bsig) " +
        "AS mn FROM bnd), " +
        "cand AS (SELECT DISTINCT id AS a, mn AS b FROM lshm " +
        "WHERE id <> mn), " +
        s"d AS (SELECT doc_id AS did, $uniTextSql AS t FROM documents), " +
        "v AS (SELECT c.a, c.b FROM cand c JOIN d da ON da.did = c.a " +
        "JOIN d db ON db.did = c.b WHERE CASE WHEN greatest(len(da.t), " +
        "len(db.t)) = 0 THEN 1.0 ELSE 1.0 - " +
        s"levenshtein(${tr("da.t")}, ${tr("db.t")})::DOUBLE" +
        " / greatest(len(da.t), len(db.t)) END >= 0.8), " +
        "e0 AS (SELECT a, b FROM v), " + QueriesExtra2.closureFromE0 + " " +
        "SELECT t.doc_id FROM documents t LEFT JOIN root r ON " +
        "t.doc_id = r.id WHERE r.root IS NULL OR r.root = t.doc_id " +
        "ORDER BY t.doc_id"
    })

  // ---- IVF-PQ top-k (the FAISS serving architecture, oracled) ----

  private def ivfpqCellsPath(key: String) = s"/tmp/graft_ivfpq_cells_$key"
  private def ivfpqProbedPath(key: String) = s"/tmp/graft_ivfpq_probed_$key"
  private def ivfpqCodesPath(key: String) = s"/tmp/graft_ivfpq_codes_$key"
  private def ivfpqAdcPath(key: String) = s"/tmp/graft_ivfpq_adc_$key"

  private val ivfpqWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** IVF-PQ promoted from spec-only to an oracled suite query (VERDICT r9
    * #4): coarse k-means cells prune the scan (`ann_ivf_topk` precedent —
    * the cell assignment and the probe DECISION are exported), PQ codes +
    * the micro-quantized ADC table compress the arithmetic (`ann_pq_topk`
    * precedent), and DuckDB independently replays the PRUNED integer ADC
    * ranking: restrict codes to vectors in probed cells, table-lookup
    * integer sums, (distance, id) top-10. The float learning (k-means
    * centroids, PQ codebooks) is Spark's — everything the corpus scan
    * does at query time is re-derived in SQL.
    */
  val annIvfPq: QueryDef = QueryDef("ann_ivfpq_topk",
    (s, dir) => {
      import graft.similarity.{Ann, Pq}
      val emb = Queries.table(s, dir, "embeddings")
      val query = emb.orderBy("vec_id").limit(1)
      val qv = query.select("embedding").collect()(0)
        .getSeq[Float](0).toArray
      val cells = Ann.kmeansAssign(emb, "embedding", "vec_id", "__cell__",
        k = 8, iters = 3, trainFraction = 0.2).persist()
      val model = Pq.train(emb, "embedding", "vec_id", dim = 64, m = 8,
        k = 16, iters = 5, maxTrain = 2000)
      val encoded = Pq.encode(cells, "embedding", model, "_codes")
      val key = QueriesExtra2.scaleKey(dir)
      // write-then-claim (the ann_ivf_topk contract): the key is recorded
      // only after ALL four exports succeed
      if (!ivfpqWritten.contains(key)) {
        cells.select(col("vec_id"), col("__cell__").as("cell"))
          .write.mode("overwrite").parquet(ivfpqCellsPath(key))
        Ann.probeCells(cells, query, "embedding", "__cell__", nprobe = 3)
          .select(col("__cell__").as("cell"))
          .write.mode("overwrite").parquet(ivfpqProbedPath(key))
        Pq.codesFrame(encoded, "vec_id", "_codes")
          .write.mode("overwrite").parquet(ivfpqCodesPath(key))
        Pq.adcTable(s, qv, model)
          .write.mode("overwrite").parquet(ivfpqAdcPath(key))
        ivfpqWritten.add(key)
        Seq(ivfpqCellsPath(key), ivfpqProbedPath(key), ivfpqCodesPath(key),
          ivfpqAdcPath(key)).foreach(SideChannel.record)
      }
      // prune against the just-written probe decision (shared with the
      // oracle), then ADC-scan only the probed cells' codes
      val probed = broadcast(s.read.parquet(ivfpqProbedPath(key))
        .select(col("cell").as("__cell__")))
      val out = Pq.adcTopK(
        encoded.join(probed, Seq("__cell__"), "left_semi"),
        "vec_id", "_codes", qv, model, 10)
        .orderBy("rank")
        .localCheckpoint(true)
      cells.unpersist()
      out
    },
    Some("WITH cells AS (SELECT * FROM parquet_scan('" +
      ivfpqCellsPath(QueriesExtra2.OracleScaleKey) + "/*.parquet')), " +
      "probed AS (SELECT cell FROM parquet_scan('" +
      ivfpqProbedPath(QueriesExtra2.OracleScaleKey) + "/*.parquet')), " +
      "codes AS (SELECT * FROM parquet_scan('" +
      ivfpqCodesPath(QueriesExtra2.OracleScaleKey) + "/*.parquet')), " +
      "t AS (SELECT * FROM parquet_scan('" +
      ivfpqAdcPath(QueriesExtra2.OracleScaleKey) + "/*.parquet')), " +
      "pr AS (SELECT c.vec_id FROM cells c WHERE c.cell IN " +
      "(SELECT cell FROM probed)), " +
      "s AS (SELECT codes.vec_id, CAST(sum(t.d2_micro) AS BIGINT) AS " +
      "pq_d2_micro FROM codes JOIN pr USING (vec_id) " +
      "JOIN t USING (sub, code) GROUP BY 1) " +
      "SELECT row_number() OVER (ORDER BY pq_d2_micro, vec_id) AS rank, " +
      "vec_id, pq_d2_micro FROM s ORDER BY rank LIMIT 10"))

  val all: Seq[QueryDef] = Seq(incrNearDedup, incrRetention,
    incrSigRetention, crawlIngest, dedupEditDistUnicode, annIvfPq)
}
