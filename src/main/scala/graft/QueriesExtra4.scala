package graft

import org.apache.spark.sql.functions._

/** Batch 6: corpus-management operators for pretraining pipelines —
  * deterministic hash train/val/test splits, per-source capping,
  * fixed-window chunking, C4-style cross-document boilerplate removal,
  * and a deflate compression-ratio quality signal. All but the deflate
  * signal are DuckDB-oracled (deflate has no SQL twin; property specs
  * cover it).
  */
object QueriesExtra4 {

  private val d = "doc_id"
  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Queries.table(s, dir, "documents")

  /** Deterministic 80/10/10 split off md5(doc_id): thresholds 'cccc' =
    * floor(0.8*65536) and 'e666' = floor(0.9*65536) in 4-hex-char space.
    * The oracle is the literal CASE chain — the point of the operator is
    * that any engine reproduces the assignment bit-for-bit.
    */
  val splitAssign: QueryDef = QueryDef("split_hash_assign",
    (s, dir) => docs(s, dir)
      .select(col(d), graft.sampling.Splits.hashSplit(col(d),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
      .orderBy(d),
    Some("SELECT doc_id, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,4) " +
      "< 'cccc' THEN 'train' WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,4) " +
      "< 'e666' THEN 'val' ELSE 'test' END AS split FROM documents " +
      "ORDER BY doc_id"))

  /** Per-source cap at 10 docs, chosen by md5-of-id order (deterministic
    * domain capping; sf0.01 has 20 sources x 25 docs -> 200 rows out).
    */
  val capPerSource: QueryDef = QueryDef("group_cap_per_source",
    (s, dir) => graft.sampling.Splits.capPerGroup(
        docs(s, dir).select(col(d), col("source")),
        col("source"), col(d), 10)
      .orderBy(d),
    Some("SELECT doc_id, source FROM documents QUALIFY row_number() OVER " +
      "(PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) " +
      "<= 10 ORDER BY doc_id"))

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
      val side = SideChannel.through(
        docs(s, dir).select(col(d).as("id"),
          graft.analysis.Compression.deflateLen(col("text"))
            .as("comp_len")),
        SideChannel.once(
          QueriesExtra2.compLenPath(QueriesExtra2.scaleKey(dir))))
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
      val p = QueriesExtra2.compLenPath(QueriesExtra2.OracleScaleKey) +
        "/*.parquet"
      "SELECT d.doc_id, CAST(COALESCE(strlen(d.text), 0) AS BIGINT) " +
        "AS n_bytes, s.comp_len, " +
        "CASE WHEN COALESCE(strlen(d.text), 0) = 0 THEN 1.0 ELSE " +
        "CAST(s.comp_len AS DOUBLE) / strlen(d.text) END AS deflate_ratio " +
        s"FROM documents d JOIN parquet_scan('$p') s ON d.doc_id = s.id " +
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
        "cw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(t), " +
        "'[^a-z0-9_]+'), x -> x <> '') AS ws FROM cd), " +
        "bw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(t), " +
        "'[^a-z0-9_]+'), x -> x <> '') AS ws FROM bd), " +
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

  /** FineWeb-style per-source quality quota: keep each source's top 30%
    * by the composite quality score (unique doc_id tie-break ⇒ the kept
    * set is deterministic and both engines agree even on equal scores).
    * One shuffle — the rank and count windows share the source
    * partitioning. The oracle CASTs the 0.3 literal to DOUBLE: DuckDB
    * would otherwise parse it as DECIMAL(2,1) and compute exact decimal
    * ⌈count·0.3⌉ while Spark computes IEEE double — the results happen to
    * coincide for 0.3 but a fraction whose double product rounds just
    * above an integer would keep one extra row per group (ADVICE r7).
    * With the cast both engines share IEEE semantics exactly.
    */
  val qualityCap: QueryDef = QueryDef("quality_cap_per_source",
    (s, dir) => graft.sampling.Splits.topFractionPerGroup(
        docs(s, dir).select(col(d), col("source"),
          graft.analysis.TextAnalysis.qualityScore(col("text"))
            .as("quality")),
        col("source"), col("quality"), col(d), 0.3)
      .orderBy(d),
    Some("WITH q AS (SELECT doc_id, source, " +
      QueriesExtra.qualityScoreSql("text") + " AS quality FROM documents) " +
      "SELECT doc_id, source, quality FROM q QUALIFY row_number() OVER " +
      "(PARTITION BY source ORDER BY quality DESC, doc_id) <= " +
      "ceil(count(*) OVER (PARTITION BY source) * CAST(0.3 AS DOUBLE)) " +
      "ORDER BY doc_id"))

  val all: Seq[QueryDef] =
    Seq(splitAssign, capPerSource, chunkWindows, boilerplateRemoval,
      compressRatio, deconOverlap, lenHistogram, qualityCap)
}
