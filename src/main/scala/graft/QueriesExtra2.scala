package graft

import org.apache.spark.sql.functions._

/** Batch 4: multimodal plumbing, event-time windowed aggregation (batch
  * twin of the streaming query), n-gram Jaccard math, and the remaining
  * dedup variants (since r6 all DuckDB-oracled — the clustering is
  * replayed over each variant's materialized edge list, see
  * [[closureCtes]]).
  */
object QueriesExtra2 {

  /** Multimodal decode: text→binary payloads through the REAL batched
    * mapPartitions decode path (PNG/JPEG/GIF headers are parsed for real;
    * these text payloads match no magic, so they hit the deterministic
    * stub fallback whose arithmetic is mirrored in SQL).
    */
  val mmDecode: QueryDef = QueryDef("mm_decode_meta",
    (s, dir) => {
      val bin = Queries.table(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      graft.multimodal.Multimodal.decodeMeta(bin, "media")
        .select(col("doc_id"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.codec").as("codec"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, (octet_length(text::BLOB) % 640) + 16 AS width, " +
      "((octet_length(text::BLOB) // 3) % 480) + 16 AS height, " +
      "CASE ord(substr(text,1,1)) % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' " +
      "ELSE 'webp' END AS codec FROM documents ORDER BY doc_id"))

  /** Frame-sampling fan-out (video payload → one row per sampled offset). */
  val mmFrames: QueryDef = QueryDef("mm_frame_sample",
    (s, dir) => {
      val bin = Queries.table(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      graft.multimodal.Multimodal.frameSample(bin, "media", 10)
        .select(col("doc_id"), col("frame_offset"))
        .orderBy("doc_id", "frame_offset")
    },
    Some("SELECT doc_id, unnest(generate_series(0, " +
      "(octet_length(text::BLOB) % 120)::INT, 10)) AS frame_offset " +
      "FROM documents ORDER BY doc_id, frame_offset"))

  /** Little-endian hex rendering of an integer column, `nBytes` wide —
    * the construction side of the WAV oracle (unhex of the concat is the
    * real RIFF byte stream).
    */
  private def hexLe(v: org.apache.spark.sql.Column, nBytes: Int) =
    concat((0 until nBytes).map(k =>
      lpad(hex(shiftright(v.cast("long"), 8 * k).bitwiseAND(lit(255L))),
        2, "0")): _*)

  /** REAL audio header decode, oracle-verified end-to-end: the query
    * CONSTRUCTS a genuine RIFF/WAVE byte stream per row (fields derived
    * from doc_id; a LIST chunk sits before "fmt " so the chunk walk is
    * exercised, not just fixed offsets), runs the real parser over the
    * bytes, and DuckDB recomputes the expected fields from the same
    * doc_id arithmetic WITHOUT parsing — any endianness/offset/chunk-walk
    * bug breaks the hash match. Every 7th row carries non-audio bytes and
    * must come back all-null.
    */
  val mmAudio: QueryDef = QueryDef("mm_audio_meta",
    (s, dir) => {
      val d = col("doc_id")
      val ch = (lit(1) + d % 2).cast("long")
      val bps = when(d % 4 >= 2, 2L).otherwise(1L) // bytes per sample
      val rate = (lit(8000) * (lit(1) + d % 5)).cast("long")
      val block = ch * bps
      val byteRate = rate * block
      val dataSize = (lit(1000) + (d * 37) % 100000).cast("long")
      val wavHex = concat(
        lit("52494646"), hexLe(lit(48L) + dataSize, 4), // "RIFF" size
        lit("57415645"),                                // "WAVE"
        lit("4C495354"), lit("04000000"), lit("494E464F"), // LIST(4) INFO
        lit("666D7420"), lit("10000000"), lit("0100"),  // "fmt " 16, PCM
        hexLe(ch, 2), hexLe(rate, 4), hexLe(byteRate, 4),
        hexLe(block, 2), hexLe(bps * 8L, 2),
        lit("64617461"), hexLe(dataSize, 4))            // "data" size
      val media = when(d % 7 === 0, col("text").cast("binary"))
        .otherwise(unhex(wavHex))
      val am = graft.multimodal.Multimodal.audioMetaUdf(media)
      Queries.table(s, dir, "documents")
        .select(d, am.getField("channels").as("channels"),
          am.getField("sample_rate").as("sample_rate"),
          am.getField("bits_per_sample").as("bits_per_sample"),
          am.getField("duration_ms").as("duration_ms"),
          am.getField("codec").as("codec"))
        .orderBy(d)
    },
    Some("SELECT doc_id, " +
      "CASE WHEN doc_id%7=0 THEN NULL ELSE " +
      "CAST(1 + doc_id%2 AS INT) END AS channels, " +
      "CASE WHEN doc_id%7=0 THEN NULL ELSE " +
      "CAST(8000*(1 + doc_id%5) AS INT) END AS sample_rate, " +
      "CASE WHEN doc_id%7=0 THEN NULL ELSE " +
      "CAST(CASE WHEN doc_id%4>=2 THEN 16 ELSE 8 END AS INT) END " +
      "AS bits_per_sample, " +
      "CASE WHEN doc_id%7=0 THEN NULL ELSE " +
      "CAST((1000 + (doc_id*37)%100000)*1000 AS BIGINT) // " +
      "(8000*(1 + doc_id%5) * (1 + doc_id%2) * " +
      "(CASE WHEN doc_id%4>=2 THEN 2 ELSE 1 END)) END AS duration_ms, " +
      "CASE WHEN doc_id%7=0 THEN NULL ELSE 'wav' END AS codec " +
      "FROM documents ORDER BY doc_id"))

  /** Big-endian hex rendering (ISO-BMFF is BE where RIFF is LE). */
  private def hexBe(v: org.apache.spark.sql.Column, nBytes: Int) =
    concat((nBytes - 1 to 0 by -1).map(k =>
      lpad(hex(shiftright(v.cast("long"), 8 * k).bitwiseAND(lit(255L))),
        2, "0")): _*)

  /** REAL video (MP4/ISO-BMFF) header decode, same contract as
    * [[mmAudio]]: each row CONSTRUCTS a genuine box tree —
    * ftyp | free(junk) | moov(mvhd,trak(tkhd)) — with fields derived
    * from doc_id, alternating the version-0/version-1 mvhd+tkhd layouts
    * (different field offsets) by row parity and the mvhd↔trak child
    * order by doc_id%3, so fixed-offset shortcuts, version confusion, or
    * a non-recursing walk all break the hash. DuckDB recomputes expected
    * fields from the same arithmetic WITHOUT parsing. Every 5th row
    * carries non-video bytes and must come back all-null.
    */
  val mmVideo: QueryDef = QueryDef("mm_video_meta",
    (s, dir) => {
      val d = col("doc_id")
      val v1 = d % 2 === 1 // mvhd/tkhd version for this row
      val ts = (lit(600) * (lit(1) + d % 4)).cast("long")
      val dur = (lit(1000) + (d * 53) % 100000).cast("long")
      val w = (lit(160) * (lit(1) + d % 8)).cast("long")
      val h = (lit(120) * (lit(1) + d % 6)).cast("long")
      def z(n: Int) = lit("00" * n) // n zero BYTES
      val brandHex = when(d % 3 === 0, lit("69736F6D")) // isom
        .when(d % 3 === 1, lit("6D703431"))             // mp41
        .otherwise(lit("6D703432"))                     // mp42
      val ftyp = concat(lit("0000001066747970"), brandHex, z(4))
      val free = lit("0000000C66726565DEADBEEF") // junk payload, skipped
      // mvhd v0: vflags ctime(4) mtime(4) ts(4) dur(4) + 80 trailing
      // mvhd v1: vflags ctime(8) mtime(8) ts(4) dur(8) + 80 trailing
      val mvhd = when(v1,
        concat(lit("000000786D766864"), lit("01000000"), z(16),
          hexBe(ts, 4), hexBe(dur, 8), z(80)))
        .otherwise(
          concat(lit("0000006C6D766864"), lit("00000000"), z(8),
            hexBe(ts, 4), hexBe(dur, 4), z(80)))
      // tkhd v0: width @ payload+76; v1: @ +88 (16.16 fixed, BE)
      val tkhd = when(v1,
        concat(lit("00000068746B6864"), lit("01000000"), z(16),
          lit("00000001"), z(64), hexBe(w, 2), z(2), hexBe(h, 2), z(2)))
        .otherwise(
          concat(lit("0000005C746B6864"), lit("00000000"), z(8),
            lit("00000001"), z(60), hexBe(w, 2), z(2), hexBe(h, 2), z(2)))
      val trak = concat(
        when(v1, lit("000000707472616B")).otherwise(lit("000000647472616B")),
        tkhd)
      val moov = concat(
        when(v1, lit("000000F06D6F6F76")).otherwise(lit("000000D86D6F6F76")),
        when(d % 3 === 1, concat(trak, mvhd)).otherwise(concat(mvhd, trak)))
      val media = when(d % 5 === 0, col("text").cast("binary"))
        .otherwise(unhex(concat(ftyp, free, moov)))
      val vm = graft.multimodal.Multimodal.videoMetaUdf(media)
      Queries.table(s, dir, "documents")
        .select(d, vm.getField("brand").as("brand"),
          vm.getField("duration_ms").as("duration_ms"),
          vm.getField("width").as("width"),
          vm.getField("height").as("height"),
          vm.getField("codec").as("codec"))
        .orderBy(d)
    },
    Some("SELECT doc_id, " +
      "CASE WHEN doc_id%5=0 THEN NULL ELSE CASE doc_id%3 " +
      "WHEN 0 THEN 'isom' WHEN 1 THEN 'mp41' ELSE 'mp42' END END AS brand, " +
      "CASE WHEN doc_id%5=0 THEN NULL ELSE " +
      "CAST((1000 + (doc_id*53)%100000)*1000 AS BIGINT) // " +
      "(600*(1 + doc_id%4)) END AS duration_ms, " +
      "CASE WHEN doc_id%5=0 THEN NULL ELSE " +
      "CAST(160*(1 + doc_id%8) AS INT) END AS width, " +
      "CASE WHEN doc_id%5=0 THEN NULL ELSE " +
      "CAST(120*(1 + doc_id%6) AS INT) END AS height, " +
      "CASE WHEN doc_id%5=0 THEN NULL ELSE 'mp4' END AS codec " +
      "FROM documents ORDER BY doc_id"))

  /** Event-time tumbling-window aggregation — the batch twin of
    * StreamingPipeline.windowedEventCounts (same plan, bounded input).
    * The value sum is emitted integer-scaled (the p12 precedent): a raw
    * double `sum` is partial-sum-order dependent and diverged by 1 ulp
    * at sf1 group sizes (r16 full-suite sf1 sweep) — `floor(value*1e6)`
    * is computed identically by both engines and its Long sum is exact.
    */
  val evWindowed: QueryDef = QueryDef("ev_windowed_agg",
    (s, dir) => Queries.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1e6).cast("long")).as("total_value_e6"))
      .select(col("window.start").cast("long").as("window_start_epoch"),
        col("event_type"), col("n"), col("total_value_e6"))
      .orderBy("window_start_epoch", "event_type"),
    Some("SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS " +
      "window_start_epoch, event_type, count(*) AS n, " +
      "CAST(sum(CAST(floor(value * 1e6) AS BIGINT)) AS BIGINT) AS " +
      "total_value_e6 FROM events GROUP BY 1, 2 ORDER BY 1, 2"))

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
      val grams = (e: String) =>
        "(CASE WHEN len(list_filter(regexp_split_to_array(lower(" + e +
          "), '[^a-z0-9_]+'), x -> x <> '')) < 3 THEN [] ELSE " +
          "list_distinct(list_transform(range(1, len(list_filter(" +
          "regexp_split_to_array(lower(" + e + "), '[^a-z0-9_]+'), " +
          "x -> x <> ''))-1), i -> list_filter(regexp_split_to_array(" +
          "lower(" + e + "), '[^a-z0-9_]+'), x -> x <> '')[i] || ' ' || " +
          "list_filter(regexp_split_to_array(lower(" + e +
          "), '[^a-z0-9_]+'), x -> x <> '')[i+1] || ' ' || " +
          "list_filter(regexp_split_to_array(lower(" + e +
          "), '[^a-z0-9_]+'), x -> x <> '')[i+2])) END)"
      "WITH g AS (SELECT doc_id, " + grams("text") + " AS gr FROM " +
        "documents), p AS (SELECT a.doc_id AS a, a.gr AS ga, b.gr AS gb " +
        "FROM g a JOIN g b ON b.doc_id = a.doc_id + 1) SELECT a, CASE " +
        "WHEN len(list_distinct(ga || gb)) = 0 THEN 0.0 ELSE CAST(len(" +
        "list_filter(list_distinct(ga), x -> list_contains(gb, x))) AS " +
        "DOUBLE) / len(list_distinct(ga || gb)) END AS jaccard FROM p " +
        "ORDER BY a"
    })

  /** Side-channel parquet for the dedup oracles: the queries materialize
    * their verified edge lists here, and DuckDB independently recomputes
    * transitive closure → component minima → keep-first (a recursive-CTE
    * replay of the clustering, the same materialized-decision pattern as
    * the IVF oracle). Edge VALIDITY is proven separately by
    * DedupInvariantSpec's kernel re-verification, so between the two, both
    * halves of each variant — pair finding and clustering — are checked
    * by something that is not the engine itself.
    */
  /** Paths are keyed by the SCALE DIR the query ran against: the driver
    * benches at sf0.1 and oracle-checks at sf0.01 in unspecified order,
    * so the two runs must never clobber each other's materialized
    * decisions. The STATIC oracle strings pin the correctness gate's
    * scale ([[OracleScaleKey]]); `tools/verify_local.py` therefore only
    * oracle-compares at sf0.01 (other scales still run rows-only).
    */
  private[graft] val OracleScaleKey = "sf0.01"

  private[graft] def scaleKey(dir: String): String =
    new java.io.File(dir).getName

  private[graft] def dedupEdgesPath(variant: String, key: String) =
    s"/tmp/graft_dedup_edges_${variant}_$key"

  /** r7: the minhash/simhash/ngram oracles' side-channel input moved one
    * level UP the trust chain — from Spark-computed edge lists to the raw
    * SIGNATURE frames (exploded (id, band, bsig) for the minhash family,
    * (id, sig) for simhash). DuckDB now derives candidate edges itself
    * (bucket-min per band / bit-sliced banding + hamming verify / exact
    * Jaccard verify), so banding and candidate generation are oracle-
    * checked, not just the clustering replay.
    */
  private[graft] def bandedPath(variant: String, key: String) =
    s"/tmp/graft_dedup_banded_${variant}_$key"

  private[graft] def sigPath(variant: String, key: String) =
    s"/tmp/graft_dedup_sigs_${variant}_$key"

  /** (doc_id, deflate-compressed length) frame for the ta_compress_ratio
    * oracle — see [[graft.analysis.Compression.deflateLen]].
    */
  private[graft] def compLenPath(key: String) =
    s"/tmp/graft_compress_len_$key"

  /** The symmetrize → transitive-closure → component-min CTE chain over a
    * materialized undirected edge list. ONE definition shared by every
    * clustering oracle (the four dedup variants and the flagship minhash
    * twin) — prepend `WITH RECURSIVE ` and append a tail SELECT over
    * `root(id, root)`.
    */
  private[graft] def closureCtes(edgeGlob: String): String =
    s"e AS (SELECT __x__ AS a, __y__ AS b FROM " +
      s"parquet_scan('$edgeGlob') UNION SELECT __y__, __x__ FROM " +
      s"parquet_scan('$edgeGlob')), " +
      "reach(a, b) AS (SELECT a, b FROM e UNION " +
      "SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a), " +
      "root AS (SELECT a AS id, least(a, min(b)) AS root FROM reach " +
      "GROUP BY a)"

  /** Recursive-CTE keep-first over a materialized undirected edge list:
    * kept = ids not reachable from any smaller id.
    */
  private[graft] def keepFirstSql(variant: String, table: String,
      idCol: String): String = {
    val p = dedupEdgesPath(variant, OracleScaleKey) + "/*.parquet"
    "WITH RECURSIVE " + closureCtes(p) + " " +
      s"SELECT t.$idCol FROM $table t LEFT JOIN root r ON t.$idCol = r.id " +
      s"WHERE r.root IS NULL OR r.root = t.$idCol ORDER BY t.$idCol"
  }

  /** Symmetrize → transitive closure → component-min over an `e0(a, b)`
    * CTE already in scope — the shared tail of every signature-derived
    * clustering oracle.
    */
  private[graft] val closureFromE0: String =
    "e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), " +
      "reach(a, b) AS (SELECT a, b FROM e UNION " +
      "SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a), " +
      "root AS (SELECT a AS id, least(a, min(b)) AS root FROM reach " +
      "GROUP BY a)"

  /** MinHash candidate derivation IN SQL from the exported signature
    * frame: LSH star edges = bucket-min over (band, bsig) of the banded
    * parquet; identical/short-class star edges recomputed from a
    * `dsrc(id, t)` CTE that must be in scope (partitioning by (short?,
    * text-or-'') is the same grouping as MinHashDedup's sentinel key —
    * DuckDB strings cannot hold NUL, so the sentinel is expressed as a
    * separate boolean partition column instead). Ends in `root(id, root)`.
    */
  private[graft] def minhashCtes(bandedGlob: String, minNgram: Int): String =
    s"bnd AS (SELECT id, band, bsig FROM parquet_scan('$bandedGlob')), " +
      "lshm AS (SELECT id, min(id) OVER (PARTITION BY band, bsig) AS mn " +
      "FROM bnd), " +
      "lshe AS (SELECT DISTINCT id AS a, mn AS b FROM lshm " +
      "WHERE id <> mn), " +
      "tokc AS (SELECT id, len(regexp_split_to_array(coalesce(t, ''), " +
      s"'[^A-Za-z_0-9]')) < $minNgram AS sh, coalesce(t, '') AS tt " +
      "FROM dsrc), " +
      "cmk AS (SELECT id, min(id) OVER (PARTITION BY sh, CASE WHEN sh " +
      "THEN '' ELSE tt END) AS kmin FROM tokc), " +
      "ide AS (SELECT id AS a, kmin AS b FROM cmk WHERE id <> kmin), " +
      "e0 AS (SELECT a, b FROM lshe UNION SELECT a, b FROM ide), " +
      closureFromE0

  /** Full minhash keep-first oracle over a plain (idCol, text) table. */
  private[graft] def minhashKeepFirstSql(variant: String, minNgram: Int,
      table: String, idCol: String): String = {
    val glob = bandedPath(variant, OracleScaleKey) + "/*.parquet"
    s"WITH RECURSIVE dsrc AS (SELECT $idCol AS id, text AS t FROM $table), " +
      minhashCtes(glob, minNgram) + " " +
      s"SELECT t.$idCol FROM $table t LEFT JOIN root r ON t.$idCol = r.id " +
      s"WHERE r.root IS NULL OR r.root = t.$idCol ORDER BY t.$idCol"
  }

  /** SimHash keep-first oracle from the exported (id, sig) frame alone:
    * DuckDB re-derives the hamming-0 collapse, the k+1 bit-sliced band
    * chunks (arithmetic shift + mask equals the JVM's unsigned shift once
    * masked), the bucket self-join, the `bit_count(xor(...)) <= k` verify
    * and the clustering.
    */
  private[graft] def simhashKeepFirstSql(variant: String, maxHamming: Int,
      table: String, idCol: String): String = {
    val glob = sigPath(variant, OracleScaleKey) + "/*.parquet"
    val bands = maxHamming + 1
    val width = 64 / bands
    val mask = (1L << width) - 1
    s"WITH RECURSIVE s AS (SELECT id, sig FROM parquet_scan('$glob')), " +
      "cmu AS (SELECT id, sig, min(id) OVER (PARTITION BY sig) AS smin " +
      "FROM s), " +
      "ide AS (SELECT id AS a, smin AS b FROM cmu WHERE id <> smin), " +
      "reps AS (SELECT id, sig FROM cmu WHERE id = smin), " +
      s"bd AS (SELECT id, sig, band, (sig >> (band * $width)) & $mask " +
      "AS chunk FROM reps, LATERAL (SELECT unnest(generate_series(0, " +
      s"${bands - 1})) AS band) g), " +
      "pr AS (SELECT y.id AS a, x.id AS b FROM bd x JOIN bd y ON " +
      "x.band = y.band AND x.chunk = y.chunk AND x.id < y.id " +
      s"WHERE bit_count(xor(x.sig, y.sig)) <= $maxHamming), " +
      "e0 AS (SELECT a, b FROM pr UNION SELECT a, b FROM ide), " +
      closureFromE0 + " " +
      s"SELECT t.$idCol FROM $table t LEFT JOIN root r ON t.$idCol = r.id " +
      s"WHERE r.root IS NULL OR r.root = t.$idCol ORDER BY t.$idCol"
  }

  /** Two-stage ngram-Jaccard keep-first oracle: candidates = bucket-min
    * star edges from the exported banded frame; verification = exact
    * word-n-gram Jaccard recomputed from the corpus in SQL (both engines'
    * division is IEEE double, so `>= threshold` agrees bit-for-bit).
    */
  private[graft] def ngramKeepFirstSql(variant: String, n: Int,
      threshold: Double, table: String, idCol: String): String = {
    val glob = bandedPath(variant, OracleScaleKey) + "/*.parquet"
    val gram = (0 until n).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"WITH RECURSIVE bnd AS (SELECT id, band, bsig FROM " +
      s"parquet_scan('$glob')), " +
      "lshm AS (SELECT id, min(id) OVER (PARTITION BY band, bsig) AS mn " +
      "FROM bnd), " +
      "cand AS (SELECT DISTINCT id AS a, mn AS b FROM lshm " +
      "WHERE id <> mn), " +
      s"w AS (SELECT $idCol AS did, list_filter(regexp_split_to_array(" +
      s"lower(coalesce(text, '')), '[^a-z0-9_]+'), x -> x <> '') AS ws " +
      s"FROM $table), " +
      s"g AS (SELECT did, CASE WHEN len(ws) < $n THEN [] ELSE " +
      s"list_distinct(list_transform(range(1, len(ws) - ${n - 2}), " +
      s"i -> $gram)) END AS gr FROM w), " +
      "v AS (SELECT c.a, c.b FROM cand c JOIN g ga ON ga.did = c.a " +
      "JOIN g gb ON gb.did = c.b WHERE CASE WHEN " +
      "len(list_distinct(ga.gr || gb.gr)) = 0 THEN 0.0 ELSE " +
      "len(list_filter(list_distinct(ga.gr), x -> list_contains(gb.gr, " +
      s"x)))::DOUBLE / len(list_distinct(ga.gr || gb.gr)) END " +
      s">= $threshold), " +
      "e0 AS (SELECT a, b FROM v), " + closureFromE0 + " " +
      s"SELECT t.$idCol FROM $table t LEFT JOIN root r ON t.$idCol = r.id " +
      s"WHERE r.root IS NULL OR r.root = t.$idCol ORDER BY t.$idCol"
  }

  /** Shared body for the edge-oracled dedup queries (embedding only since
    * r7 — see [[dedupEmbedding]] for why its oracle input stays at the
    * edge level): assign doc-derived ids, export the verified edges once
    * per (JVM, scale) and cluster their read-back.
    */
  private[graft] def edgeOracledDedup(s: org.apache.spark.sql.SparkSession,
      corpus: org.apache.spark.sql.DataFrame, idCol: String,
      variant: String, dir: String,
      edges: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.dedup.Clustering.run(corpus, Some(idCol), 10000000L,
      graft.dedup.Clustering.Pin.Released)((withId, _) =>
      SideChannel.through(edges(withId),
        SideChannel.once(dedupEdgesPath(variant, scaleKey(dir)))))(
      // lineage cut so the id cache can release
      _.keep(_).select(idCol).orderBy(idCol).localCheckpoint(true))

  /** The minhash config of the documents-corpus minhash queries. */
  private[graft] val DocsMinhash =
    graft.dedup.MinHashConfig(ngramSize = 3, minNgramSize = 3)

  /** The documents table, after exporting its [[DocsMinhash]] banded
    * frame (doc_id ids) for `variant`'s oracle once per (JVM, scale).
    */
  private[graft] def docsBanded(s: org.apache.spark.sql.SparkSession,
      dir: String, variant: String): org.apache.spark.sql.DataFrame = {
    val docs = Queries.table(s, dir, "documents")
    SideChannel.exportOnce(bandedPath(variant, scaleKey(dir)))(
      graft.dedup.MinHashDedup.bandedFrame(docs, "text", DocsMinhash,
        Some("doc_id")))
    docs
  }

  /** SimHash near-dedup — SIGNATURE-oracled since r7: the query exports
    * (id, sig) and DuckDB derives banding, verification and clustering.
    */
  val dedupSimhash: QueryDef = QueryDef("dedup_simhash",
    (s, dir) => {
      import graft.dedup.SimHash
      val docs = Queries.table(s, dir, "documents")
      SideChannel.exportOnce(sigPath("simhash", scaleKey(dir)))(
        SimHash.sigFrame(docs, "text", SimHash.signature, Some("doc_id")))
      SimHash.deduplicate(docs, "text", 3, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some(simhashKeepFirstSql("simhash", 3, "documents", "doc_id")))

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
      SideChannel.exportOnce(bandedPath("ngram", scaleKey(dir)))(
        NgramJaccard.bandedFrame(docs, "text", 5, 0.7, MinHashConfig(),
          Some("doc_id")))
      NgramJaccard.deduplicate(docs, "text", 5, 0.7, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some(ngramKeepFirstSql("ngram", 5, 0.7, "documents", "doc_id")))

  /** Embedding-cosine near-dedup within label blocks — edge-list-oracled
    * (the one variant whose oracle input stays at the edge level, by
    * design: verification compares a JVM float-kernel cosine against the
    * threshold, and DuckDB's double-only list math can disagree by an ulp
    * exactly at the boundary — the pair-finding half is instead covered by
    * DedupInvariantSpec's independent kernel re-verification).
    */
  val dedupEmbedding: QueryDef = QueryDef("dedup_embedding",
    (s, dir) => edgeOracledDedup(s, Queries.table(s, dir, "embeddings"),
      "vec_id", "embedding", dir,
      withId => graft.dedup.EmbeddingDedup.verifiedEdges(withId,
        "embedding", "label", 0.35)),
    Some(keepFirstSql("embedding", "embeddings", "vec_id")))

  /** SemDeDup-style semantic dedup (learned k-means cells instead of the
    * label/LSH blocking above) — edge-list-oracled for the same
    * float-kernel reason as `dedup_embedding` (plus the cell assignment
    * itself is a float argmax); the blocking/verification half is covered
    * by DedupInvariantSpec's independent double-precision re-check.
    */
  val dedupSemantic: QueryDef = QueryDef("dedup_semantic",
    (s, dir) => edgeOracledDedup(s, Queries.table(s, dir, "embeddings"),
      "vec_id", "semantic", dir,
      withId => graft.dedup.SemDedup.verifiedEdges(withId, "embedding",
        16, 0.35)),
    Some(keepFirstSql("semantic", "embeddings", "vec_id")))

  /** P12 criteria `describe()` stats — the exact-aggregate subset (count/
    * avg/min/max; stddev & percentiles differ across engines' algorithms).
    */
  val p12: QueryDef = QueryDef("p12_criteria_stats",
    (s, dir) => Queries.table(s, dir, "documents")
      .select(graft.text.Filters.checkLowercaseRatio().score(col("text"))
        .as("crit"))
      // mean via integer-scaled sum: double `avg` is partial-sum-order
      // dependent and not hash-stable across engines
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("crit") * 1e9).cast("long")).as("sum_e9"),
        min(col("crit")).as("mn"), max(col("crit")).as("mx")),
    Some("WITH c AS (SELECT CASE WHEN length(text)=0 THEN 0.0 ELSE " +
      "CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)" +
      "/length(text) END AS crit FROM documents) SELECT count(*) AS cnt, " +
      "CAST(sum(CAST(floor(crit * 1e9) AS BIGINT)) AS BIGINT) AS sum_e9, " +
      "min(crit) AS mn, max(crit) AS mx FROM c"))

  /** F2 perplexity scoring — oracled by exporting the MODEL AS DATA (r6):
    * the query dumps the shipped ARPA tables to parquet and DuckDB
    * recomputes every document's perplexity from scratch — ccnet
    * normalization (already-mirrored SQL chain), vocab mapping, the
    * 4-gram→…→unigram backoff chain per event, ordered log-sum, the
    * reference's `round(10^(−Σ/len), 1)` — sharing nothing with the JVM
    * scorer but the parsed model constants. The 1-dp rounding absorbs
    * any cross-engine ulp noise in the sum.
    */
  private val ArpaTablePath = "/tmp/graft_arpa_tables"

  /** The model dump is corpus-independent and the model is fixed per JVM —
    * write it once, not per bench repetition (348k rows across 4 tables).
    */
  @volatile private var arpaTablesWritten = false

  val f2: QueryDef = QueryDef("f2_check_perplexity",
    (s, dir) => {
      import s.implicits._
      if (!arpaTablesWritten) synchronized { if (!arpaTablesWritten) {
        val m = graft.scoring.ArpaScorer.model
        m.uniRows.toDF("w", "p", "bo")
          .write.mode("overwrite").parquet(s"$ArpaTablePath/uni")
        m.biRows.toDF("g", "p", "bo")
          .write.mode("overwrite").parquet(s"$ArpaTablePath/bi")
        m.triRows.toDF("g", "p", "bo")
          .write.mode("overwrite").parquet(s"$ArpaTablePath/tri")
        m.quadRows.toDF("g", "p")
          .write.mode("overwrite").parquet(s"$ArpaTablePath/quad")
        arpaTablesWritten = true
      } }
      Queries.table(s, dir, "documents")
        .select(col("doc_id"),
          graft.scoring.Perplexity.filter(0, 1e9).score(col("text"))
            .as("text_check_perplexity_criteria"))
        .orderBy("doc_id")
    },
    Some {
      import OracleSql._
      // documents.text is single-line; the ccnet chain is the same
      // fragment the (injected-char) ccnet_normalize oracle hash-matches
      val norm =
        "regexp_replace(" +
          normalizePunctuation(
            "regexp_replace(strip_accents(lower(" + strip("text") + ")), " +
              "'[0-9]', '0', 'g')") +
          ", '[\\x00-\\x09\\x0b-\\x1f\\x7f-\\x9f]', '', 'g')"
      val bichain =
        "CASE WHEN bp IS NOT NULL THEN bp ELSE coalesce(bo1v, 0) + up END"
      val trichain = "CASE WHEN h2 IS NULL THEN " + bichain +
        " WHEN tp IS NOT NULL THEN tp ELSE coalesce(bo2v, 0) + " +
        bichain + " END"
      val quadchain = "CASE WHEN h3 IS NULL THEN " + trichain +
        " WHEN qp IS NOT NULL THEN qp ELSE coalesce(bo3v, 0) + " +
        trichain + " END"
      s"WITH uni AS (SELECT * FROM parquet_scan('$ArpaTablePath/uni/*.parquet')), " +
        s"bi AS (SELECT * FROM parquet_scan('$ArpaTablePath/bi/*.parquet')), " +
        s"tri AS (SELECT * FROM parquet_scan('$ArpaTablePath/tri/*.parquet')), " +
        s"quad AS (SELECT * FROM parquet_scan('$ArpaTablePath/quad/*.parquet')), " +
        s"d AS (SELECT doc_id, $norm AS norm FROM documents), " +
        "t AS (SELECT doc_id, list_filter(regexp_split_to_array(norm, " +
        "'\\s+'), x -> x <> '') AS ws FROM d), " +
        "tok AS (SELECT doc_id, i, ws[i] AS w FROM t, LATERAL (SELECT " +
        "unnest(generate_series(1, len(ws))) AS i) g), " +
        "mtok AS (SELECT tok.doc_id, tok.i, CASE WHEN u.w IS NULL THEN " +
        "'<unk>' ELSE tok.w END AS m FROM tok LEFT JOIN uni u ON " +
        "u.w = tok.w), " +
        "seqs AS (SELECT doc_id, list(m ORDER BY i) AS ms FROM mtok " +
        "GROUP BY doc_id), " +
        "fl AS (SELECT d.doc_id, coalesce(s.ms, []) AS ms FROM d LEFT " +
        "JOIN seqs s USING (doc_id)), " +
        "ev AS (SELECT doc_id, i, " +
        "CASE WHEN i <= len(ms) THEN ms[i] ELSE '</s>' END AS w, " +
        "CASE WHEN i = 1 THEN '<s>' ELSE ms[i-1] END AS h1, " +
        "CASE WHEN i = 2 THEN '<s>' WHEN i > 2 THEN ms[i-2] END AS h2, " +
        "CASE WHEN i = 3 THEN '<s>' WHEN i > 3 THEN ms[i-3] END AS h3 " +
        "FROM fl, LATERAL (SELECT unnest(generate_series(1, len(ms)+1)) " +
        "AS i) g), " +
        "lk AS (SELECT e.doc_id, e.i, e.h2, e.h3, q.p AS qp, b3.bo AS " +
        "bo3v, tr.p AS tp, b2.bo AS bo2v, bb.p AS bp, u1.bo AS bo1v, " +
        "uw.p AS up FROM ev e " +
        "LEFT JOIN quad q ON e.h3 IS NOT NULL AND q.g = e.h3 || ' ' || " +
        "e.h2 || ' ' || e.h1 || ' ' || e.w " +
        "LEFT JOIN tri b3 ON e.h3 IS NOT NULL AND b3.g = e.h3 || ' ' || " +
        "e.h2 || ' ' || e.h1 " +
        "LEFT JOIN tri tr ON e.h2 IS NOT NULL AND tr.g = e.h2 || ' ' || " +
        "e.h1 || ' ' || e.w " +
        "LEFT JOIN bi b2 ON e.h2 IS NOT NULL AND b2.g = e.h2 || ' ' || " +
        "e.h1 " +
        "LEFT JOIN bi bb ON bb.g = e.h1 || ' ' || e.w " +
        "LEFT JOIN uni u1 ON u1.w = e.h1 " +
        "LEFT JOIN uni uw ON uw.w = e.w), " +
        s"pv AS (SELECT doc_id, i, ($quadchain) AS p FROM lk), " +
        "res AS (SELECT doc_id, list_sum(list(p ORDER BY i)) AS logsum, " +
        "count(*) AS len FROM pv GROUP BY doc_id) " +
        "SELECT doc_id, round(pow(10, -logsum/len), 1) AS " +
        "text_check_perplexity_criteria FROM res ORDER BY doc_id"
    })

  /** §2.7 cc_net text normalization (kenlm_model.py:144-184), now with a
    * real DuckDB oracle: trim → lower → strip accents → digits→0 → punct
    * map → drop non-printing, mirrored step for step. The injected prefix/
    * suffix exercise every stage on chars where Java-NFD and DuckDB
    * `strip_accents` agree (combining-mark decompositions; NFD leaves
    * compat-only chars like ½ № alone in both engines — astral/ambiguous
    * chars like ø deliberately not injected).
    */
  val ccNet: QueryDef = QueryDef("ccnet_normalize",
    (s, dir) => {
      val u = udf { (t: String) =>
        graft.scoring.CcNetNormalizer.normalize(t)
      }
      Queries.table(s, dir, "documents")
        .select(col("doc_id"),
          u(concat(lit("  Élan… "), col("text"),
            lit(" Déjà №½ 42\u0007—  "))).as("normalized"))
        .orderBy("doc_id")
    },
    Some {
      import OracleSql._
      val doc = "'  Élan… ' || text || ' Déjà №½ 42' || chr(7) || '—  '"
      val normalized =
        "regexp_replace(" +
          normalizePunctuation(
            s"regexp_replace(strip_accents(lower(${strip(doc)})), " +
              "'[0-9]', '0', 'g')") +
          ", '[\\x00-\\x09\\x0b-\\x1f\\x7f-\\x9f]', '', 'g')"
      s"SELECT doc_id, $normalized AS normalized FROM documents " +
        "ORDER BY doc_id"
    })

  /** P3 dry-run: score columns for a two-filter stack, rows unfiltered,
    * dry-run column prefixing applied.
    */
  val p3DryRun: QueryDef = QueryDef("p3_dry_run_scores",
    (s, dir) => graft.pipeline.Preprocessor.dryRun(
      Queries.table(s, dir, "documents").select("doc_id", "text"),
      "text",
      Seq(graft.text.Filters.checkWordNumber(20, 60),
        graft.text.Filters.checkLowercaseRatio()))
      .drop("text").orderBy("doc_id"),
    Some("SELECT doc_id, " + OracleSql.wordCount("text") + " AS " +
      "text__text_check_word_number_criteria, CASE WHEN length(text)=0 " +
      "THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) " +
      "AS DOUBLE)/length(text) END AS " +
      "text__text_check_lowercase_ratio_criteria " +
      "FROM documents ORDER BY doc_id"))

  /** cc_net head/middle/tail bucketing — the rank-tercile operator
    * hash-verified on a SQL-mirrorable score (word count, tie-broken on
    * doc_id); the LM-scored composition (`Buckets.ccnetBuckets` with the
    * ArpaScorer + approx cutoffs — the 100 TB shape) is model-bound and
    * covered by spec instead.
    */
  val ccNetBuckets: QueryDef = QueryDef("ccnet_rank_buckets",
    (s, dir) => graft.scoring.Buckets.rankBuckets(
      Queries.table(s, dir, "documents"),
      graft.text.Filters.wordCount(col("text")), col("doc_id"))
      .select(col("doc_id"), col("bucket"))
      .orderBy("doc_id"),
    Some("SELECT doc_id, (['head','middle','tail'])[ntile(3) OVER " +
      "(ORDER BY " + OracleSql.wordCount("text") + " ASC, doc_id ASC)] " +
      "AS bucket FROM documents ORDER BY doc_id"))

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

  /** The full flagship chat pipeline as a bench query: the E2E
    * explode→clean→filter→dedup→chatml dataflow at the bench scale
    * factor — the headline number for the engine as a whole. Since r7 it
    * carries its OWN DuckDB oracle (VERDICT r6 #2): the pipeline's dedup
    * pass exports its banded signature frame and the oracle recomputes
    * the whole trunk + clustering independently — the same replay the
    * minhash twin gets, against this query's own export. The r6 parity
    * spec (twin row set == headline row set) is retained as defense in
    * depth. The harness-facing output is SCALAR-only (the driver loads
    * parquet into pandas and sorts rows for hashing — an array<struct>
    * column raises "unhashable type: numpy.ndarray" even for the
    * rows-only check); the array-typed chatml API stays internal.
    */
  val flagship: QueryDef = QueryDef("flagship_chat_pipeline",
    (s, dir) => {
      // the oracle reads the response dedup's banded frame: band the
      // same dedup input, over the same `__mid__` ids
      SideChannel.exportOnce(bandedPath("flagship_main", scaleKey(dir))) {
        val resp = graft.chat.ChatPipeline.flagshipResponse(s, dir)
        graft.dedup.MinHashDedup.bandedFrame(resp.dedupInput,
          resp.columnName, resp.dedup.get, resp.dedupOrderCol)
      }
      graft.chat.ChatPipeline.flagship(s, dir).select(
        array_join(transform(col("conversation"), m => concat_ws(":",
          m.getField("role"), m.getField("content"),
          m.getField("do_train").cast("string"))), "|").as("rendered"),
        col("source"))
    },
    Some(QueriesFlagshipOracle.flagshipMainOracle))

  val all: Seq[QueryDef] = Seq(mmDecode, mmFrames, mmAudio, mmVideo,
    evWindowed,
    ngJaccard,
    dedupSimhash, dedupJaccard, dedupEmbedding, dedupSemantic, p12,
    f2, ccNet,
    ccNetBuckets, esSpans, p3DryRun, flagship,
    QueriesFlagshipOracle.flagshipOracle,
    QueriesFlagshipOracle.flagshipOracleMinhash)
}
