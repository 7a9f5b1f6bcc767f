package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{MinHashConfig, MinHashDedup}

/** Dedup oracle queries: exact, Bloom, URL-key, paragraph and
  * exact-substring dedup, and the near-dedup families — MinHash (plain,
  * cluster stats, weighted), SimHash, n-gram Jaccard, edit distance,
  * embedding and semantic — plus incremental dedup against persisted
  * signature stores and their retention/takedown journals. Each
  * near-dedup query exports the frame its oracle reads and replays the
  * clustering through the shared [[OracleSql]] dedup fragments.
  */
object QueriesDedup {

  private val d = "doc_id"

  /** 2^62 — the increment side's id offset (every store id orders below
    * every increment id, so keep-first can never prefer a new row over a
    * retained one). DuckDB BIGINT carries it exactly.
    */
  private val Off = MinHashDedup.NewIdOffset

  private val IncrCfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)

  /** The minhash config of the documents-corpus minhash queries. */
  private[graft] val DocsMinhash =
    MinHashConfig(ngramSize = 3, minNgramSize = 3)

  /** The documents table, after exporting its [[DocsMinhash]] banded
    * frame (doc_id ids) for `variant`'s oracle once per run.
    */
  private[graft] def docsBanded(s: SparkSession, dir: String,
      variant: String): DataFrame = {
    val docs = Queries.table(s, dir, "documents")
    SideChannel.exportOnce(dir, s"dedup_banded_$variant")(
      MinHashDedup.bandedFrame(docs, "text", DocsMinhash, Some("doc_id")))
    docs
  }

  /** The [[DocsMinhash]] clustering of `documents` replayed from
    * `variant`'s banded frame, ending in `root(id, root)`.
    */
  private def docsMinhashCtes(variant: String): String =
    "WITH RECURSIVE dsrc AS (SELECT doc_id AS id, text AS t FROM " +
      "documents), " + OracleSql.minhashCtes(variant, 3)

  /** [[docsMinhashCtes]] plus `rts(id, root)`: every document with its
    * component root (no-edge docs root to themselves).
    */
  private[graft] def docsRootsCtes(variant: String): String =
    docsMinhashCtes(variant) + ", " +
      "rts AS (SELECT d.id, coalesce(r.root, d.id) AS root FROM dsrc d " +
      "LEFT JOIN root r ON d.id = r.id)"

  /** Exact dedup (hash-groupBy, keep smallest id) on a prefix key. */
  val dedupExact: QueryDef = QueryDef("dedup_exact",
    (s, dir) => graft.dedup.ExactDedup.deduplicate(
      Queries.table(s, dir, "documents"),
      Seq(substring(col("text"), 1, 20)), col("doc_id"))
      .select("doc_id").orderBy("doc_id"),
    Some("SELECT min(doc_id) AS doc_id FROM documents " +
      "GROUP BY substr(text, 1, 20) ORDER BY doc_id"))

  /** MinHash near-dedup over documents (SURVEY §2.6) — SIGNATURE-oracled
    * since r7: the sha1/permutation math is the only thing that crosses
    * the side-channel (the exploded (id, band, bsig) frame); DuckDB
    * derives the bucket-min candidate edges, recomputes the identical/
    * short-class star edges from the corpus, and replays transitive
    * closure → component minima → keep-first. Reference-golden kept-id
    * specs pin the signature math itself.
    */
  val dedupMinhash: QueryDef = QueryDef("dedup_minhash",
    (s, dir) => graft.dedup.MinHashDedup.deduplicate(
      docsBanded(s, dir, "minhash"), "text", DocsMinhash,
      orderCol = Some("doc_id"))
      .select("doc_id").orderBy("doc_id"),
    Some(docsMinhashCtes("minhash") + " " +
      OracleSql.keepFirstTail("documents", "doc_id")))

  /** Dedup observability (§2.6-adjacent, beyond-reference): cluster-size
    * histogram of the minhash clustering — "how duplicated is my corpus"
    * — singletons included. Signature-oracled like dedup_minhash: DuckDB
    * derives candidates from the exported banding, recomputes ident/short
    * star edges from the corpus, clusters, then LEFT JOINs every doc to
    * its root (no-edge docs root to themselves) and histograms the
    * component sizes.
    */
  val dedupClusterStats: QueryDef = QueryDef("dedup_cluster_stats",
    (s, dir) => graft.dedup.MinHashDedup.clusterSizeStats(
        docsBanded(s, dir, "minhash_stats"), "text", DocsMinhash,
        orderCol = Some("doc_id"))
      .orderBy("cluster_size"),
    Some {
      docsRootsCtes("minhash_stats") + ", " +
        "cs AS (SELECT root, count(*) AS cluster_size FROM rts GROUP BY " +
        "root) SELECT cluster_size, count(*) AS n_clusters FROM cs " +
        "GROUP BY cluster_size ORDER BY cluster_size"
    })

  /** Exact word-trigram Jaccard between consecutive documents — the
    * verification stage of two-stage near-dedup, bit-mirrored in SQL.
    */
  val ngJaccard: QueryDef = QueryDef("ng_jaccard_pairs",
    (s, dir) => {
      // r19: fused distinct-gram kernel — no staged word array, no
      // interpreted HOF chain (AsciiGramsSpec pins element identity)
      val docs = Queries.table(s, dir, "documents")
      val g = graft.dedup.NgramJaccard.wordNgrams(col("text"), 3)
      val a = docs.select(col("doc_id").as("a"), g.as("ga"))
      val b = docs.select((col("doc_id") - 1).as("a"), g.as("gb"))
      a.join(b, Seq("a"))
        .select(col("a"),
          graft.dedup.NgramJaccard.jaccard(col("ga"), col("gb"))
            .as("jaccard"))
        .orderBy("a")
    },
    Some {
      val w = OracleSql.termWords("text")
      val grams = s"(CASE WHEN len($w) < 3 THEN [] ELSE " +
        s"list_distinct(list_transform(range(1, len($w)-1), " +
        s"i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2])) END)"
      "WITH g AS (SELECT doc_id, " + grams + " AS gr FROM " +
        "documents), p AS (SELECT a.doc_id AS a, a.gr AS ga, b.gr AS gb " +
        "FROM g a JOIN g b ON b.doc_id = a.doc_id + 1) SELECT a, CASE " +
        "WHEN len(list_distinct(ga || gb)) = 0 THEN 0.0 ELSE CAST(len(" +
        "list_filter(list_distinct(ga), x -> list_contains(gb, x))) AS " +
        "DOUBLE) / len(list_distinct(ga || gb)) END AS jaccard FROM p " +
        "ORDER BY a"
    })

  /** Shared body for the edge-oracled dedup queries (embedding only since
    * r7 — see [[dedupEmbedding]] for why its oracle input stays at the
    * edge level): assign doc-derived ids, export the verified edges once
    * per run and cluster their read-back.
    */
  private def edgeOracledDedup(corpus: DataFrame, idCol: String,
      variant: String, dir: String, edges: DataFrame => DataFrame)
      : DataFrame =
    graft.dedup.Clustering.run(corpus, Some(idCol), 10000000L,
      graft.dedup.Clustering.Pin.Released)(withId =>
      SideChannel.through(dir, s"dedup_edges_$variant")(
        edges(withId)))(
      // lineage cut so the id cache can release
      _.keep(_).select(idCol).orderBy(idCol).localCheckpoint(true))

  /** SimHash near-dedup — SIGNATURE-oracled since r7: the query exports
    * (id, sig) and DuckDB derives banding, verification and clustering.
    */
  val dedupSimhash: QueryDef = QueryDef("dedup_simhash",
    (s, dir) => {
      import graft.dedup.SimHash
      val docs = Queries.table(s, dir, "documents")
      SideChannel.exportOnce(dir, "dedup_sigs_simhash")(
        SimHash.sigFrame(docs, "text", SimHash.signature, Some("doc_id")))
      SimHash.deduplicate(docs, "text", 3, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some(OracleSql.simhashKeepFirstSql("simhash", 3, "documents",
      "doc_id")))

  /** Two-stage (LSH + exact Jaccard) near-dedup — SIGNATURE-oracled since
    * r7 (banded minhash frame exported; DuckDB derives candidates and
    * re-verifies Jaccard itself). Reference-default n=5/threshold=0.7:
    * lower thresholds on this tiny-vocabulary corpus degenerate to R=2
    * bands that candidate nearly every pair.
    */
  val dedupJaccard: QueryDef = QueryDef("dedup_ngram_jaccard",
    (s, dir) => {
      import graft.dedup.{MinHashConfig, NgramJaccard}
      val docs = Queries.table(s, dir, "documents")
      SideChannel.exportOnce(dir, "dedup_banded_ngram")(
        NgramJaccard.bandedFrame(docs, "text", 5, 0.7, MinHashConfig(),
          Some("doc_id")))
      NgramJaccard.deduplicate(docs, "text", 5, 0.7, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some(OracleSql.ngramKeepFirstSql("ngram", 5, 0.7, "documents",
      "doc_id")))

  /** Embedding-cosine near-dedup within label blocks — edge-list-oracled
    * (the one variant whose oracle input stays at the edge level, by
    * design: verification compares a JVM float-kernel cosine against the
    * threshold, and DuckDB's double-only list math can disagree by an ulp
    * exactly at the boundary — the pair-finding half is instead covered by
    * DedupInvariantSpec's independent kernel re-verification).
    */
  val dedupEmbedding: QueryDef = QueryDef("dedup_embedding",
    (s, dir) => edgeOracledDedup(Queries.table(s, dir, "embeddings"),
      "vec_id", "embedding", dir,
      withId => graft.dedup.EmbeddingDedup.verifiedEdges(withId,
        "embedding", "label", 0.35)),
    Some(OracleSql.edgeKeepFirstSql("embedding", "embeddings", "vec_id")))

  /** SemDeDup-style semantic dedup (learned k-means cells instead of the
    * label/LSH blocking above) — edge-list-oracled for the same
    * float-kernel reason as `dedup_embedding` (plus the cell assignment
    * itself is a float argmax); the blocking/verification half is covered
    * by DedupInvariantSpec's independent double-precision re-check.
    */
  val dedupSemantic: QueryDef = QueryDef("dedup_semantic",
    (s, dir) => edgeOracledDedup(Queries.table(s, dir, "embeddings"),
      "vec_id", "semantic", dir,
      withId => graft.dedup.SemDedup.verifiedEdges(withId, "embedding",
        16, 0.35)),
    Some(OracleSql.edgeKeepFirstSql("semantic", "embeddings", "vec_id")))

  /** Exact-substring detection (Lee et al. 2022 stage 1): maximal spans
    * of ≥40 chars occurring verbatim in >1 document. A shared sentence is
    * injected at the head of every 9th document; its windows (and any
    * accidental word-soup collisions — both engines compute them
    * identically) must come back as merged spans.
    */
  val esSpans: QueryDef = QueryDef("es_repeated_spans",
    (s, dir) => {
      val shared = "this exact sentence is shared across many documents " +
        "verbatim " // 62 chars
      val injected = Queries.table(s, dir, "documents")
        .withColumn("t",
          when(col("doc_id") % 9 === 0, concat(lit(shared), col("text")))
            .otherwise(col("text")))
      graft.dedup.ExactSubstring.repeatedSpans(injected, "doc_id", "t", 40)
        .select(col("doc_id"), col("span_start").cast("long"),
          col("span_end").cast("long"))
        .orderBy("doc_id", "span_start")
    },
    Some {
      val shared = "this exact sentence is shared across many documents " +
        "verbatim "
      "WITH src AS (SELECT doc_id, CASE WHEN doc_id%9=0 THEN '" + shared +
        "' || text ELSE text END AS t FROM documents), " +
        "g AS (SELECT doc_id, unnest(range(0, length(t)-40+1)) AS pos, t " +
        "FROM src WHERE length(t) >= 40), " +
        "h AS (SELECT doc_id, pos, substr(t, pos::INT+1, 40) AS hh " +
        "FROM g), " +
        "sh AS (SELECT hh FROM h GROUP BY hh " +
        "HAVING count(DISTINCT doc_id) > 1), " +
        "m AS (SELECT doc_id, pos FROM h JOIN sh USING (hh)), " +
        "i AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY " +
        "doc_id ORDER BY pos) AS grp FROM m) " +
        "SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, " +
        "CAST(max(pos)+40 AS BIGINT) AS span_end FROM i " +
        "GROUP BY doc_id, grp ORDER BY doc_id, span_start"
    })

  /** Bloom-filter incremental dedup: odd-id documents deduped against a
    * broadcast Bloom filter of even-id documents' texts. At fpp=1e-9
    * over this corpus the filter's false-positive set is empty, so the
    * probabilistic result coincides with the exact anti-join the oracle
    * computes (and Spark's Bloom hashing is deterministic, so the match
    * is stable, not lucky).
    */
  val dedupBloom: QueryDef = QueryDef("dedup_bloom_against",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      graft.dedup.ExactDedup.bloomDedupAgainst(
        docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0),
        // auto-size from the measured ref count (ADVICE r9: 10000 was
        // ~2.5× oversubscribed at sf1 — degraded fpp, silent drops there)
        "text", expectedItems = 0L, fpp = 1e-9)
        .select("doc_id").orderBy("doc_id")
    },
    Some("SELECT doc_id FROM documents WHERE doc_id % 2 = 1 AND text " +
      "NOT IN (SELECT text FROM documents WHERE doc_id % 2 = 0) " +
      "ORDER BY doc_id"))

  /** CC-style canonical-URL dedup (the key-level dedup that runs BEFORE
    * content dedup): every doc gets a synthetic URL whose scheme/host
    * case, www prefix, default port, trailing slash, tracking params and
    * fragment vary by doc_id, so canonicalization genuinely collapses
    * groups; keep = first doc_id per canonical key (one window shuffle).
    * The oracle replays the ENTIRE normalization chain step for step —
    * the chain is deliberately backreference-free so Spark and RE2 SQL
    * spell it identically.
    */
  val urlCanonical: QueryDef = QueryDef("dedup_url_canonical",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val urlCol = concat(
        element_at(array(lit("https://"), lit("HTTPS://")),
          (col(d) % 2 + 1).cast("int")),
        element_at(array(lit("example.com"), lit("WWW.Example.com"),
          lit("www.example.com:443"), lit("EXAMPLE.com:80")),
          (col(d) % 4 + 1).cast("int")),
        element_at(array(lit("/a"), lit("/a/"), lit("/b")),
          (col(d) % 3 + 1).cast("int")),
        element_at(array(lit(""), lit("?utm_source=x"),
          lit("?utm_source=x&id=Q"), lit("?id=Q"),
          lit("?id=Q&utm_campaign=z&fbclid=F"), lit("?ref=tw")),
          (col(d) % 6 + 1).cast("int")),
        when(col(d) % 5 === 0, lit("#sec")).otherwise(lit("")))
      Queries.table(s, dir, "documents")
        .select(col(d), urlCol.as("url"))
        .withColumn("canon_url",
          graft.analysis.Urls.canonicalUrl(col("url")))
        .withColumn("kept",
          col(d) === min(col(d)).over(Window.partitionBy("canon_url")))
        .orderBy(d)
    },
    Some {
      val urlSql = "(['https://', 'HTTPS://'])[(doc_id%2+1)::INT] || " +
        "(['example.com', 'WWW.Example.com', 'www.example.com:443', " +
        "'EXAMPLE.com:80'])[(doc_id%4+1)::INT] || " +
        "(['/a', '/a/', '/b'])[(doc_id%3+1)::INT] || " +
        "(['', '?utm_source=x', '?utm_source=x&id=Q', '?id=Q', " +
        "'?id=Q&utm_campaign=z&fbclid=F', '?ref=tw'])[(doc_id%6+1)::INT] || " +
        "(CASE WHEN doc_id%5=0 THEN '#sec' ELSE '' END)"
      s"WITH u AS (SELECT doc_id, $urlSql AS url FROM documents), " +
        "s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM u), " +
        "s2 AS (SELECT *, regexp_extract(nofrag, '(?i)^https?://[^/?#]*', 0) AS head FROM s1), " +
        "s3 AS (SELECT *, substr(nofrag, length(head)+1) AS rest, " +
        "regexp_replace(replace(lower(head), '://www.', '://'), ':(80|443)$', '') AS host FROM s2), " +
        "s4 AS (SELECT *, regexp_extract(rest, '^[^?]*', 0) AS path, " +
        "regexp_extract(rest, '^[^?]*\\?(.*)$', 1) AS query FROM s3), " +
        "s5 AS (SELECT doc_id, url, host || regexp_replace(path, '/$', '') || " +
        "CASE WHEN qf = '' THEN '' ELSE '?' || qf END AS canon_url FROM " +
        // DuckDB array_to_string(EMPTY_LIST) is NULL where Spark's
        // array_join gives '' — the no-surviving-params case must
        // coalesce or the whole canon key goes NULL
        "(SELECT *, coalesce(array_to_string(list_filter(string_split(query, '&'), " +
        "p -> p <> '' AND NOT regexp_matches(p, " +
        "'^(utm_[A-Za-z]+|fbclid|gclid|ref)=')), '&'), '') AS qf FROM s4)) " +
        "SELECT doc_id, url, canon_url, " +
        "doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS kept " +
        "FROM s5 ORDER BY doc_id"
    })

  // ---- paragraph dedup ----

  /** Injected paragraph structure: a cross-document repeated intro
    * (docs ≡0 mod 3), a per-doc unique body slice, a repeated footer
    * (docs ≡0 mod 2) — with unconditional separators so empty
    * paragraphs (the normalization path) occur too.
    */
  private val paraSpark: Column = concat(
    when(col(d) % 3 === 0, lit("intro shared boilerplate"))
      .otherwise(lit("")),
    lit("\n\n"), substring(col("text"), 1, 50), lit("\n\n"),
    when(col(d) % 2 === 0, lit("footer legal text v1")).otherwise(lit("")))

  private val paraSql: String =
    "(CASE WHEN doc_id % 3 = 0 THEN 'intro shared boilerplate' ELSE '' " +
      "END) || chr(10) || chr(10) || substr(text, 1, 50) || chr(10) || " +
      "chr(10) || (CASE WHEN doc_id % 2 = 0 THEN 'footer legal text v1' " +
      "ELSE '' END)"

  /** Cross-document paragraph dedup, fully re-derived in SQL — the
    * oracle uses the row_number-over-paragraph formulation while the
    * engine uses the skew-safe min-aggregate (equivalent keep-first
    * semantics, independently expressed).
    */
  val dedupParagraphs: QueryDef = QueryDef("dedup_paragraphs",
    (s, dir) => graft.dedup.ParagraphDedup.dedupParagraphs(
      Queries.table(s, dir, "documents").withColumn("_doc", paraSpark),
      d, "_doc", "text_out")
      .orderBy(d),
    Some("WITH d AS (SELECT doc_id, " + paraSql + " AS t FROM documents), " +
      "l AS (SELECT doc_id, string_split(t, chr(10) || chr(10)) AS ps " +
      "FROM d), " +
      "p AS (SELECT doc_id, t.pos, ps[t.pos] AS para FROM l, " +
      "unnest(range(1, len(ps) + 1)) AS t(pos) WHERE ps[t.pos] <> ''), " +
      "k AS (SELECT doc_id, pos, para, row_number() OVER (PARTITION BY " +
      "para ORDER BY doc_id, pos) AS rn FROM p), " +
      "a AS (SELECT doc_id, string_agg(para, chr(10) || chr(10) " +
      "ORDER BY pos) AS text_out FROM k WHERE rn = 1 GROUP BY doc_id) " +
      "SELECT d.doc_id, coalesce(a.text_out, '') AS text_out FROM d " +
      "LEFT JOIN a USING (doc_id) ORDER BY doc_id"))

  // ---- edit-distance fuzzy dedup ----

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
    Some(OracleSql.levKeepFirstSql("editdist", 0.8, "coalesce(text, '')",
      "documents", "doc_id")))

  /** Soft dedup: same minhash config as `dedup_minhash`, but each kept
    * representative carries weight = cluster size. Oracle replays the
    * identical clustering chain and derives the weights with one GROUP
    * BY over the (id, root) frame.
    */
  val dedupWeighted: QueryDef = QueryDef("dedup_weighted",
    (s, dir) => graft.dedup.MinHashDedup.deduplicateWeighted(
      docsBanded(s, dir, "minhash_weighted"), "text", DocsMinhash,
      orderCol = Some(d))
      .select(col(d), col("weight"))
      .orderBy(d),
    Some {
      docsRootsCtes("minhash_weighted") + " " +
        "SELECT root AS doc_id, CAST(count(*) AS BIGINT) AS weight " +
        "FROM rts GROUP BY root ORDER BY doc_id"
    })

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
    * corpus's banded-signature store is built ONCE per JVM —
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
      SideChannel.writeOnce(dir, "dedup_store_incrnear")(
        MinHashDedup.exportBandedStore(refFrame(s, dir), "text", _, IncrCfg,
          orderCol = Some(d)))
      val store = s.read.parquet(SideChannel.path("dedup_store_incrnear"))
      val docs = Queries.table(s, dir, "documents")
      val inc = docs.where(col(d) % 11 === 0)
        .select(col(d), incTextSpark.as("text"))
      SideChannel.exportOnce(dir, "dedup_banded_incrnear")(
        MinHashDedup.bandedFrame(inc, "text", IncrCfg, Some(d), Off))
      MinHashDedup.deduplicateAgainstStore(inc, store, "text", IncrCfg,
        orderCol = Some(d))
        .select(col(d))
        .orderBy(d)
    },
    Some("WITH RECURSIVE " +
      s"dsrc AS (SELECT doc_id + $Off AS id, $incTextSql AS t " +
      "FROM documents WHERE doc_id % 11 = 0), " +
      OracleSql.bucketMinCtes("incrnear", "lshe") + ", " +
      OracleSql.identCtes(3) + ", " +
      "st AS (SELECT band, bsig, id AS sid FROM " +
      s"${OracleSql.scan("dedup_store_incrnear")}), " +
      OracleSql.bandStoreTail(Off)))

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
      // The journal is PERSISTED nightly state (the whole point of the
      // retention design): the first run in this JVM computes and
      // publishes it (also feeding the oracle side-channel); later runs
      // — bench repetitions — read it back, so the timed op is the real
      // takedown cost (journal read + delete + compact + store dedup),
      // not a |corpus| re-signaturing the production pipeline never pays.
      SideChannel.exportOnce(dir, "dedup_banded_retjournal")(
        MinHashDedup.bandedJournal(retRefFrame(s, dir), "text", IncrCfg,
          orderCol = Some(d)))
      val journal =
        s.read.parquet(SideChannel.path("dedup_banded_retjournal"))
      val docs = Queries.table(s, dir, "documents")
      val delIds = docs.where(col(d).isin(3, 60) ||
        (col(d) % 23 === 5 && col(d) % 19 =!= 3)).select(col(d))
      val store = MinHashDedup.compactJournal(
        MinHashDedup.deleteFromJournal(journal, delIds))
      val inc = docs.where(col(d) % 11 === 0)
        .select(col(d), retIncTextSpark.as("text"))
      SideChannel.exportOnce(dir, "dedup_banded_retinc")(
        MinHashDedup.bandedFrame(inc, "text", IncrCfg, Some(d), Off))
      MinHashDedup.deduplicateAgainstStore(inc, store, "text", IncrCfg,
        orderCol = Some(d))
        .select(col(d))
        .orderBy(d)
    },
    Some {
      "WITH RECURSIVE " +
        s"dsrc AS (SELECT doc_id + $Off AS id, $retIncTextSql AS t " +
        "FROM documents WHERE doc_id % 11 = 0), " +
        // takedown replayed on the raw journal, NOT on engine output:
        // the delete filter and the bucket-min compaction both re-derive
        // in SQL, so a broken deleteFromJournal/compactJournal diverges
        s"jr AS (SELECT band, bsig, id FROM " +
        s"${OracleSql.scan("dedup_banded_retjournal")} " +
        "WHERE NOT (id IN (3, 60) OR (id % 23 = 5 AND id % 19 <> 3))), " +
        "st AS (SELECT band, bsig, min(id) AS sid FROM jr " +
        "GROUP BY band, bsig), " +
        OracleSql.bucketMinCtes("retinc", "lshe") + ", " +
        OracleSql.identCtes(3) + ", " + OracleSql.bandStoreTail(Off)
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
      // persisted-journal read-back on bench reps — see [[incrRetention]]
      SideChannel.exportOnce(dir, "dedup_sigs_retsigjournal")(
        SimHash.sigJournal(retRefFrame(s, dir), "text", SimHash.signature,
          Some(d)))
      val journal =
        s.read.parquet(SideChannel.path("dedup_sigs_retsigjournal"))
      val docs = Queries.table(s, dir, "documents")
      val delIds = docs.where(col(d).isin(3, 60) ||
        (col(d) % 23 === 5 && col(d) % 19 =!= 3)).select(col(d))
      val store = SimHash.compactSigJournal(
        SimHash.deleteFromSigJournal(journal, delIds))
      val inc = docs.where(col(d) % 11 === 0)
        .select(col(d), retIncTextSpark.as("text"))
      SideChannel.exportOnce(dir, "dedup_sigs_retsiginc")(
        SimHash.sigFrame(inc, "text", SimHash.signature, Some(d), Off))
      SimHash.deduplicateAgainstSigStore(inc, store, "text",
        SimHash.signature, maxHamming = 3, orderCol = Some(d))
        .select(col(d))
        .orderBy(d)
    },
    Some {
      "WITH RECURSIVE " +
        s"jr AS (SELECT id, sig FROM " +
        s"${OracleSql.scan("dedup_sigs_retsigjournal")} " +
        "WHERE NOT (id IN (3, 60) OR (id % 23 = 5 AND id % 19 <> 3))), " +
        "st AS (SELECT sig, min(id) AS sid FROM jr GROUP BY sig), " +
        OracleSql.sigStoreTail("retsiginc", 3, Off)
    })

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
      SideChannel.exportOnce(dir, "dedup_banded_editdistuni")(
        EditDistanceDedup.bandedFrame(docs, "text", 5, MinHashConfig(),
          Some(d)))
      EditDistanceDedup.deduplicate(docs, "text", 5, 0.8, orderCol = Some(d))
        .select(d).orderBy(d)
    },
    Some(OracleSql.levKeepFirstSql("editdistuni", 0.8, uniTextSql,
      "documents", "doc_id",
      c => s"translate($c, 'áéøñö', '~@#^=')")))

  val all: Seq[QueryDef] = Seq(dedupExact, dedupMinhash, dedupClusterStats,
    ngJaccard, dedupSimhash, dedupJaccard, dedupEmbedding, dedupSemantic,
    esSpans, dedupBloom, urlCanonical, dedupParagraphs, dedupEditDistance,
    dedupWeighted, incrNearDedup, incrRetention, incrSigRetention,
    dedupEditDistUnicode)
}
