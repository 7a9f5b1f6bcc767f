package graft

import org.apache.spark.sql.functions._

/** Round-9 (cont.) additions: UniMax corpus-derived budget allocation —
  * the published closing piece of the mixture family (capacities →
  * allocation → epoch plan / greedy fill).
  */
object QueriesExtra7 {

  private val d = "doc_id"

  private val wordLenSql =
    "len(regexp_extract_all(lower(text), '[\\p{L}\\p{N}_]+'))"

  /** sf0.01 capacities (en ≈ 11.8k tokens, others 3.5-4.1k) with E=2 and
    * B=37001 exercise every branch: the smallest cap binds, four don't,
    * and the mod-r remainder hands +1 tokens down from the largest cap.
    */
  private val UnimaxBudget = 37001L
  private val UnimaxEpochs = 2

  /** Per-language UniMax plan, re-derived entirely in SQL: the
    * cap-ascending prefix bind test, the freed-budget integer share, and
    * the largest-cap-first remainder handout are the same window
    * arithmetic on both engines.
    */
  val mixUnimax: QueryDef = QueryDef("mix_unimax",
    (s, dir) => graft.sampling.Unimax.allocate(
      Queries.table(s, dir, "documents"), "lang",
      graft.text.Filters.wordCount(col("text")),
      UnimaxBudget, UnimaxEpochs)
      .orderBy("lang"),
    Some {
      val b = UnimaxBudget
      s"WITH t AS (SELECT lang, $wordLenSql AS toks FROM documents), " +
        "c AS (SELECT lang, CAST(sum(toks) AS BIGINT) AS capacity, " +
        s"CAST(sum(toks) * $UnimaxEpochs AS BIGINT) AS cap " +
        "FROM t GROUP BY 1), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY cap, lang) AS j, " +
        "count(*) OVER () AS n, CAST(coalesce(sum(cap) OVER (ORDER BY " +
        "cap, lang ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), " +
        "0) AS BIGINT) AS pfx FROM c), " +
        s"i AS (SELECT *, (cap * (n - j + 1) < $b - pfx) AS ind FROM r), " +
        "bnd AS (SELECT *, (CAST(coalesce(sum(CASE WHEN ind THEN 0 ELSE " +
        "1 END) OVER (ORDER BY cap, lang ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW), 0) AS BIGINT) = 0) AS binding " +
        "FROM i), " +
        "s AS (SELECT *, CAST(coalesce(sum(CASE WHEN binding THEN cap " +
        "END) OVER (), 0) AS BIGINT) AS bound_sum, " +
        "CAST(sum(CASE WHEN binding THEN 0 ELSE 1 END) OVER () " +
        "AS BIGINT) AS rr, " +
        "CAST(sum(CASE WHEN binding THEN 0 ELSE 1 END) OVER (ORDER BY " +
        "cap DESC, lang DESC ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS BIGINT) AS rk FROM bnd), " +
        "a AS (SELECT lang, capacity, cap, binding, CASE WHEN binding " +
        s"THEN cap ELSE ($b - bound_sum) // rr + (CASE WHEN rk <= " +
        s"($b - bound_sum) % rr THEN 1 ELSE 0 END) END AS allocation " +
        "FROM s) " +
        "SELECT lang, capacity, cap, binding, CAST(allocation AS BIGINT) " +
        "AS allocation, CAST(allocation // capacity AS BIGINT) AS " +
        "full_epochs, CAST(allocation % capacity AS BIGINT) AS " +
        "remainder_tokens FROM a ORDER BY lang"
    })

  // ---- edit-distance fuzzy dedup ----

  /** Keep-first oracle for the Levenshtein-verified variant: candidates =
    * bucket-min star edges from the exported banded frame (the shared
    * minhash derivation), verification = normalized Levenshtein recomputed
    * from the corpus in SQL. The distance and lengths are integers and the
    * similarity is one IEEE double division, so `>= threshold` agrees
    * bit-for-bit; DuckDB's levenshtein counts byte edits vs Spark's
    * codepoint edits — identical on this verified-ASCII corpus (see
    * [[graft.dedup.EditDistanceDedup]]).
    */
  private def levKeepFirstSql(variant: String, threshold: Double,
      table: String, idCol: String): String = {
    val glob = SideChannel.sqlPath(s"dedup_banded_$variant") + "/*.parquet"
    s"WITH RECURSIVE bnd AS (SELECT id, band, bsig FROM " +
      s"parquet_scan('$glob')), " +
      "lshm AS (SELECT id, min(id) OVER (PARTITION BY band, bsig) AS mn " +
      "FROM bnd), " +
      "cand AS (SELECT DISTINCT id AS a, mn AS b FROM lshm " +
      "WHERE id <> mn), " +
      s"d AS (SELECT $idCol AS did, coalesce(text, '') AS t FROM $table), " +
      "v AS (SELECT c.a, c.b FROM cand c JOIN d da ON da.did = c.a " +
      "JOIN d db ON db.did = c.b WHERE CASE WHEN greatest(len(da.t), " +
      "len(db.t)) = 0 THEN 1.0 ELSE 1.0 - levenshtein(da.t, db.t)::DOUBLE" +
      s" / greatest(len(da.t), len(db.t)) END >= $threshold), " +
      "e0 AS (SELECT a, b FROM v), " + QueriesExtra2.closureFromE0 + " " +
      s"SELECT t.$idCol FROM $table t LEFT JOIN root r ON t.$idCol = " +
      s"r.id WHERE r.root IS NULL OR r.root = t.$idCol ORDER BY t.$idCol"
  }

  /** Edit-distance-confirmed fuzzy dedup — SIGNATURE-oracled like the
    * ngram variant: the banded frame is the side-channel; DuckDB derives
    * candidates and re-verifies the normalized Levenshtein itself.
    */
  val dedupEditDistance: QueryDef = QueryDef("dedup_edit_distance",
    (s, dir) => {
      import graft.dedup.{EditDistanceDedup, MinHashConfig}
      val docs = Queries.table(s, dir, "documents")
      SideChannel.exportOnce(dir, "dedup_banded_editdist")(
        EditDistanceDedup.bandedFrame(docs, "text", 5, MinHashConfig(),
          Some("doc_id")))
      EditDistanceDedup.deduplicate(docs, "text", 5, 0.8,
        orderCol = Some("doc_id")).select("doc_id").orderBy("doc_id")
    },
    Some(levKeepFirstSql("editdist", 0.8, "documents", "doc_id")))

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
      "WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(" +
        "lower(text), '[^a-z0-9_]+'), x -> x <> '') AS ws " +
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

  // ---- cluster-balanced diversity sampling ----

  /** Cluster-balanced sampling over the learned k-means cells: the cell
    * assignment is the side-channel (float-argmax k-means is Spark's, the
    * IVF/SemDedup precedent); DuckDB replays the entire quota pass — the
    * seeded-md5 within-cell ranking and the cap — from that frame.
    */
  val sampleClusterBalanced: QueryDef = QueryDef("sample_cluster_balanced",
    (s, dir) => {
      val emb = Queries.table(s, dir, "embeddings")
      val assigned = graft.similarity.Ann.kmeansAssign(emb, "embedding",
          "vec_id", "cell", k = 16, iters = 3, trainFraction = 0.5)
        .select(col("vec_id"), col("cell"))
      val cells = SideChannel.through(dir, "cells_balanced")(assigned)
      graft.sampling.ClusterBalance.capPerCell(cells, "vec_id", "cell",
          quota = 20, seed = 5L)
        .orderBy("vec_id")
    },
    Some("WITH c AS (SELECT vec_id, cell FROM parquet_scan('" +
      SideChannel.sqlPath("cells_balanced") + "/*.parquet')), " +
      "r AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY cell " +
      "ORDER BY md5('5:' || CAST(vec_id AS VARCHAR)), vec_id) AS rn " +
      "FROM c) SELECT vec_id, cell FROM r WHERE rn <= 20 ORDER BY vec_id"))

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
      "l AS (SELECT doc_id, t, coalesce(list_aggregate(list_filter(" +
      "string_split(t, chr(10)), x -> substr(x, -1, 1) IN " +
      "('.', '!', '?', '\"') AND len(list_filter(" +
      "regexp_split_to_array(x, '\\s+'), w -> w <> '')) >= 5 AND " +
      "instr(lower(x), 'javascript') = 0), 'string_agg', chr(10)), '') " +
      "AS text_out FROM dd), " +
      "g AS (SELECT doc_id, t, text_out, CAST(len(" +
      "regexp_split_to_array(text_out, '[.!?]')) - 1 AS INT) AS " +
      "n_sentences, instr(lower(t), 'lorem ipsum') > 0 AS " +
      "has_lorem_ipsum, instr(t, '{') > 0 AS has_curly_brace FROM l) " +
      "SELECT doc_id, text_out, n_sentences, has_lorem_ipsum, " +
      "has_curly_brace, (n_sentences >= 3 AND NOT has_lorem_ipsum AND " +
      "NOT has_curly_brace) AS keep FROM g ORDER BY doc_id"))

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
    Some("WITH w AS (SELECT list_filter(regexp_split_to_array(" +
      "lower(text), '[^a-z0-9_]+'), x -> x <> '') AS ws FROM documents), " +
      "g AS (SELECT unnest(CASE WHEN len(ws) < 3 THEN [] ELSE " +
      "list_transform(range(1, len(ws)-1), i -> ws[i] || ' ' || " +
      "ws[i+1] || ' ' || ws[i+2]) END) AS gram FROM w), " +
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
    (s, dir) => Queries.table(s, dir, "documents")
      .select(col(d),
        graft.text.Html.extractUdf(htmlDocSpark).as("text_out"))
      .orderBy(d),
    Some("WITH raw AS (SELECT doc_id, 'Doc ' || doc_id || chr(10) || " +
      "'Heading ' || (doc_id % 10) || chr(10) || chr(10) || " +
      "substr(text, 1, 60) || ' & tail' || chr(10) || chr(10) || " +
      "'second block here: ' || substr(text, 61, 40) || chr(10) || " +
      "chr(10) || 'item one' || chr(10) || chr(10) || 'item ' || " +
      "doc_id AS t FROM documents) " +
      "SELECT doc_id, coalesce(list_aggregate(list_filter(" +
      "list_transform(string_split(t, chr(10)), x -> trim(" +
      "regexp_replace(x, '[ \\t\\v\\f\\r]+', ' ', 'g'))), " +
      "x -> x <> ''), 'string_agg', chr(10)), '') AS text_out " +
      "FROM raw ORDER BY doc_id"))

  val all: Seq[QueryDef] = Seq(mixUnimax, dedupEditDistance, deconBloom,
    sampleClusterBalanced, c4Filter, warcRecords, cmsTopNgrams,
    htmlExtract)
}
