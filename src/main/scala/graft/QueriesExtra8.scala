package graft

import org.apache.spark.sql.functions._

/** Round-9 (cont.) additions: HyperLogLog distinct-cardinality sketch
  * (the estimation gap beside the CMS frequency grid) and
  * embedding-space decontamination (the semantic member of the decon
  * family).
  */
object QueriesExtra8 {

  private val d = "doc_id"

  /** p=9 → 512 registers, ~4.6% standard error — the corpus-stats
    * sweet spot (a vocabulary estimate, not a billing counter).
    */
  private val HllP = 9

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
    Some("WITH w AS (SELECT list_filter(regexp_split_to_array(" +
      "lower(text), '[^a-z0-9_]+'), x -> x <> '') AS ws FROM documents), " +
      "tok AS (SELECT unnest(ws) AS t FROM w), " +
      "h AS (SELECT ('0x' || substr(md5('hll:' || t), 1, 15))::BIGINT " +
      "AS h FROM tok), " +
      "reg AS (SELECT h % 512 AS bucket, max(52 - length(ltrim(" +
      "bin(h >> 9), '0'))) AS maxrho FROM h GROUP BY 1), " +
      "s AS (SELECT CAST(count(*) AS BIGINT) AS n_nonempty, " +
      "CAST(coalesce(sum(CAST(power(2, 52 - maxrho) AS BIGINT)), 0) " +
      "AS BIGINT) AS hsum FROM reg), " +
      "f AS (SELECT CAST(512 AS BIGINT) AS m, n_nonempty, " +
      "CAST(512 - n_nonempty AS BIGINT) AS zeros, " +
      "CAST(hsum + (512 - n_nonempty) * 4503599627370496 AS BIGINT) " +
      "AS harmonic_num FROM s), " +
      "e AS (SELECT *, CASE WHEN 0.7213/(1+1.079/512.0)*512.0*512.0*" +
      "4503599627370496.0/harmonic_num <= 1280.0 AND zeros > 0 " +
      "THEN 512.0 * ln(512.0/zeros) ELSE 0.7213/(1+1.079/512.0)*512.0*" +
      "512.0*4503599627370496.0/harmonic_num END AS est FROM f) " +
      "SELECT m, n_nonempty, zeros, harmonic_num, " +
      "CAST(floor(est * 1000.0 + 0.5) AS BIGINT) AS est_x1000 FROM e"))

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

  /** Leakage-safe splits over the documents corpus: same minhash config
    * as `dedup_minhash`, split fractions as `split_hash_assign` — but
    * keyed on the CLUSTER ROOT, so every near-duplicate class lands in
    * one split. Oracle replays the full chain: signatures side-channel →
    * bucket-min edges → recursive closure → component-min roots → the
    * md5-threshold CASE over the root.
    */
  val splitLeakageSafe: QueryDef = QueryDef("split_leakage_safe",
    (s, dir) => graft.sampling.Splits.leakageSafeSplit(
      QueriesExtra2.docsBanded(s, dir, "minhash_leaksplit"), "text",
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      QueriesExtra2.DocsMinhash)
      .orderBy("doc_id"),
    Some {
      val glob = SideChannel.sqlPath("dedup_banded_minhash_leaksplit") +
        "/*.parquet"
      val h = "substr(md5(CAST(root AS VARCHAR)), 1, 4)"
      "WITH RECURSIVE dsrc AS (SELECT doc_id AS id, text AS t FROM " +
        "documents), " + QueriesExtra2.minhashCtes(glob, 3) + ", " +
        "rts AS (SELECT d.id, coalesce(r.root, d.id) AS root FROM dsrc d " +
        "LEFT JOIN root r ON d.id = r.id) " +
        s"SELECT id AS doc_id, root, CASE WHEN $h < 'cccc' THEN 'train' " +
        s"WHEN $h < 'e666' THEN 'val' ELSE 'test' END AS split " +
        "FROM rts ORDER BY doc_id"
    })

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

  /** Soft dedup: same minhash config as `dedup_minhash`, but each kept
    * representative carries weight = cluster size. Oracle replays the
    * identical clustering chain and derives the weights with one GROUP
    * BY over the (id, root) frame.
    */
  val dedupWeighted: QueryDef = QueryDef("dedup_weighted",
    (s, dir) => graft.dedup.MinHashDedup.deduplicateWeighted(
      QueriesExtra2.docsBanded(s, dir, "minhash_weighted"), "text",
      QueriesExtra2.DocsMinhash, orderCol = Some(d))
      .select(col(d), col("weight"))
      .orderBy(d),
    Some {
      val glob = SideChannel.sqlPath("dedup_banded_minhash_weighted") +
        "/*.parquet"
      "WITH RECURSIVE dsrc AS (SELECT doc_id AS id, text AS t FROM " +
        "documents), " + QueriesExtra2.minhashCtes(glob, 3) + ", " +
        "rts AS (SELECT d.id, coalesce(r.root, d.id) AS root FROM dsrc d " +
        "LEFT JOIN root r ON d.id = r.id) " +
        "SELECT root AS doc_id, CAST(count(*) AS BIGINT) AS weight " +
        "FROM rts GROUP BY root ORDER BY doc_id"
    })

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
    Some("WITH w AS (SELECT lang, list_filter(regexp_split_to_array(" +
      "lower(text), '[^a-z0-9_]+'), x -> x <> '') AS ws FROM documents), " +
      "tok AS (SELECT lang, unnest(ws) AS t FROM w), " +
      "h AS (SELECT lang, ('0x' || substr(md5('hll:' || t), 1, 15))" +
      "::BIGINT AS h FROM tok), " +
      "reg AS (SELECT lang, h % 512 AS bucket, max(52 - length(ltrim(" +
      "bin(h >> 9), '0'))) AS maxrho FROM h GROUP BY 1, 2), " +
      "s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_nonempty, " +
      "CAST(coalesce(sum(CAST(power(2, 52 - maxrho) AS BIGINT)), 0) " +
      "AS BIGINT) AS hsum FROM reg GROUP BY 1), " +
      "f AS (SELECT lang, CAST(512 AS BIGINT) AS m, n_nonempty, " +
      "CAST(512 - n_nonempty AS BIGINT) AS zeros, " +
      "CAST(hsum + (512 - n_nonempty) * 4503599627370496 AS BIGINT) " +
      "AS harmonic_num FROM s), " +
      "e AS (SELECT *, CASE WHEN 0.7213/(1+1.079/512.0)*512.0*512.0*" +
      "4503599627370496.0/harmonic_num <= 1280.0 AND zeros > 0 " +
      "THEN 512.0 * ln(512.0/zeros) ELSE 0.7213/(1+1.079/512.0)*512.0*" +
      "512.0*4503599627370496.0/harmonic_num END AS est FROM f) " +
      "SELECT lang, m, n_nonempty, zeros, harmonic_num, " +
      "CAST(floor(est * 1000.0 + 0.5) AS BIGINT) AS est_x1000 FROM e " +
      "ORDER BY lang"))

  val all: Seq[QueryDef] = Seq(hllDistinct, deconEmbedding,
    splitLeakageSafe, snapshotDiff, dedupWeighted, incrIngest,
    hllVocabByLang)
}
