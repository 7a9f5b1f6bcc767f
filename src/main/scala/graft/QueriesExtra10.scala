package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-11 additions:
  *  - batched IVF-PQ serving (VERDICT r10 #6): `ann_ivfpq_knn_join`
  *    (query batch × corpus codes, integer ADC) and
  *    `ann_ivfpq_refine_knn` (ADC shortlist + exact L2 re-rank) — the
  *    set-to-set twins of `ann_ivfpq_topk`, which collected its single
  *    query vector to the driver;
  *  - the perceptual dedup triple over real zero-dependency decoders:
  *    `img_dhash_dedup` (PGM pixels → dHash), `audio_ehash_dedup`
  *    (PCM-16 → energy envelope), `video_fhash_dedup` (MP4 stsz →
  *    frame-size envelope), all clustered by the shared simhash
  *    pigeonhole machinery and SQL-replayed from exported (id, sig)
  *    frames with explicit NULL (undecodable) handling;
  *  - `incr_img_dedup`: incremental hamming-family dedup against the
  *    persisted signature store (`SimHash.sigStore`), the |delta|-cost
  *    nightly shape with the full decision replayed in SQL.
  */
object QueriesExtra10 {

  // ---- batched IVF-PQ kNN join (query batch × corpus codes) ----

  private def pqkCellsPath(key: String) = s"/tmp/graft_pqknn_cells_$key"
  private def pqkCodesPath(key: String) = s"/tmp/graft_pqknn_codes_$key"
  private def pqkTablesPath(key: String) = s"/tmp/graft_pqknn_tables_$key"
  private def pqkProbesPath(key: String) = s"/tmp/graft_pqknn_probes_$key"

  private val pqkWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Batched IVF-PQ serving, oracled: 5 query rows, each ADC-ranked
    * against only its own probed cells' codes, top-3 per query. Four
    * exported frames let DuckDB replay the ENTIRE pruned integer ranking
    * per query — cell membership (vec_id, cell), the probe DECISION
    * (query_id, cell), the codes (vec_id, sub, code), and each query's
    * micro-quantized ADC grid (query_id, sub, code, d2_micro) — so the
    * oracle independently recomputes candidates, distances, and ranks;
    * only the float learning (k-means centroids, PQ codebooks, probe
    * cosine) is Spark's, exactly the `ann_ivfpq_topk` trust split.
    * Reference anchor: the dedup/similarity beyond-reference mandate
    * (embedding near-dup screens, semantic_deduplication.py analogues).
    */
  /** Shared setup for the batched-serving queries (knn + refine): the
    * SAME deterministic model/cells/queries, and the four side-channel
    * frames exported once per (JVM, scale) under the write-then-claim
    * contract — whichever query runs first in a fresh JVM writes them.
    * Returns (queries, encoded, model, probes-read-back, release).
    */
  private def pqkSetup(s: org.apache.spark.sql.SparkSession, dir: String):
      (DataFrame, DataFrame, graft.similarity.PqModel, DataFrame,
        () => Unit) = {
    import graft.similarity.{Ann, Pq}
    val emb = Queries.table(s, dir, "embeddings")
    val queries = emb.orderBy("vec_id").limit(5)
    val cells = Ann.kmeansAssign(emb, "embedding", "vec_id", "__cell__",
      k = 8, iters = 3, trainFraction = 0.2).persist()
    val model = Pq.train(emb, "embedding", "vec_id", dim = 64, m = 8,
      k = 16, iters = 5, maxTrain = 2000)
    val encoded = Pq.encode(cells, "embedding", model, "_codes")
    val key = QueriesExtra2.scaleKey(dir)
    // write-then-claim (the ann_ivf_topk contract): the key is recorded
    // only after ALL four exports succeed
    if (!pqkWritten.contains(key)) {
      cells.select(col("vec_id"), col("__cell__").as("cell"))
        .write.mode("overwrite").parquet(pqkCellsPath(key))
      Pq.codesFrame(encoded, "vec_id", "_codes")
        .write.mode("overwrite").parquet(pqkCodesPath(key))
      Pq.adcTablesFrame(queries.withColumnRenamed("vec_id", "query_id"),
          "embedding", "query_id", model)
        .write.mode("overwrite").parquet(pqkTablesPath(key))
      Pq.probeCellsBatch(cells, queries, "embedding", "vec_id",
          "__cell__", nprobe = 3)
        .write.mode("overwrite").parquet(pqkProbesPath(key))
      pqkWritten.add(key)
      Seq(pqkCellsPath(key), pqkCodesPath(key), pqkTablesPath(key),
        pqkProbesPath(key)).foreach(SideChannel.record)
    }
    (queries, encoded, model, s.read.parquet(pqkProbesPath(key)),
      () => { cells.unpersist(); () })
  }

  /** The per-query integer ADC ranking CTE chain from the four exported
    * frames, ending in `r(query_id, neighbor_id, pq_d2_micro, rank)` —
    * shared by the knn oracle (reads `r` directly) and the refine
    * oracle (re-ranks `r`'s shortlist exactly).
    */
  private def pqkKnnCtes: String =
    "WITH cells AS (SELECT * FROM parquet_scan('" +
      pqkCellsPath(QueriesExtra2.OracleScaleKey) + "/*.parquet')), " +
      "probes AS (SELECT * FROM parquet_scan('" +
      pqkProbesPath(QueriesExtra2.OracleScaleKey) + "/*.parquet')), " +
      "codes AS (SELECT * FROM parquet_scan('" +
      pqkCodesPath(QueriesExtra2.OracleScaleKey) + "/*.parquet')), " +
      "qt AS (SELECT * FROM parquet_scan('" +
      pqkTablesPath(QueriesExtra2.OracleScaleKey) + "/*.parquet')), " +
      // candidates: corpus rows whose cell this query probed, minus self
      "pr AS (SELECT p.query_id, c.vec_id FROM probes p JOIN cells c " +
      "ON c.cell = p.cell WHERE c.vec_id <> p.query_id), " +
      // integer ADC: per (query, candidate), sum the grid lookups
      "s AS (SELECT pr.query_id, codes.vec_id AS neighbor_id, " +
      "CAST(sum(qt.d2_micro) AS BIGINT) AS pq_d2_micro " +
      "FROM codes JOIN pr ON pr.vec_id = codes.vec_id " +
      "JOIN qt ON qt.query_id = pr.query_id AND qt.sub = codes.sub " +
      "AND qt.code = codes.code GROUP BY 1, 2), " +
      "r AS (SELECT query_id, neighbor_id, pq_d2_micro, " +
      "CAST(row_number() OVER (PARTITION BY query_id " +
      "ORDER BY pq_d2_micro, neighbor_id) AS INT) AS rank FROM s)"

  val annIvfPqKnnJoin: QueryDef = QueryDef("ann_ivfpq_knn_join",
    (s, dir) => {
      import graft.similarity.Pq
      val (queries, encoded, model, probes, release) = pqkSetup(s, dir)
      // serve against the just-written probe decision (shared with the
      // oracle — the float cosine ranking never re-runs in either engine)
      val out = Pq.ivfAdcKnnJoin(queries, encoded, "embedding",
        "vec_id", "vec_id", "__cell__", "_codes", model, k = 3,
        nprobe = 3, probes = Some(probes))
        .orderBy("query_id", "rank")
        .localCheckpoint(true)
      release()
      out
    },
    Some(pqkKnnCtes +
      " SELECT query_id, rank, neighbor_id, pq_d2_micro FROM r " +
      "WHERE rank <= 3 ORDER BY query_id, rank"))

  /** Batched ADC shortlist + EXACT re-rank (the full serving
    * architecture in one oracled line): the integer ADC chain nominates
    * a 6-candidate shortlist per query, then only those pairs pay the
    * exact double L2 against the raw embeddings. DuckDB re-derives the
    * shortlist from the exported frames (the `r` chain) and re-ranks it
    * with the dot-product identity over the embeddings table — the
    * output carries ranks and ids only (float d2 stays internal on both
    * sides; its last ulp is summation-order-dependent, the ranking is
    * not — the `ann_bruteforce_topk` precedent).
    */
  val annIvfPqRefineKnn: QueryDef = QueryDef("ann_ivfpq_refine_knn",
    (s, dir) => {
      import graft.similarity.Pq
      val (queries, encoded, model, probes, release) = pqkSetup(s, dir)
      val out = Pq.ivfAdcRefineKnnJoin(queries, encoded, "embedding",
        "vec_id", "vec_id", "__cell__", "_codes", model, k = 3,
        shortlist = 6, nprobe = 3, probes = Some(probes))
        .orderBy("query_id", "rank")
        .localCheckpoint(true)
      release()
      out
    },
    Some(pqkKnnCtes + ", " +
      "short AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 6), " +
      "re AS (SELECT short.query_id, short.neighbor_id, " +
      "list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) " +
      "- 2 * list_dot_product(e.embedding::DOUBLE[], " +
      "q.embedding::DOUBLE[]) " +
      "+ list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) " +
      "AS d2 FROM short JOIN embeddings e ON e.vec_id = short.neighbor_id " +
      "JOIN embeddings q ON q.vec_id = short.query_id), " +
      "rr AS (SELECT query_id, neighbor_id, CAST(row_number() OVER (" +
      "PARTITION BY query_id ORDER BY d2, neighbor_id) AS INT) AS rank " +
      "FROM re) " +
      "SELECT query_id, rank, neighbor_id FROM rr WHERE rank <= 3 " +
      "ORDER BY query_id, rank"))

  // ---- perceptual image near-dedup (dHash over real PGM pixels) ----

  /** splitmix64 — deterministic per-class base hash. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** A 9×8 P5 PGM whose dHash is EXACTLY `hash`: each row starts at
    * 128 + `offset` and steps −1 for a set bit (left > right) or +1 for
    * a clear bit — the 9×8 input makes every downsample box one pixel,
    * so the comparisons read the raster directly. `offset` shifts
    * brightness WITHOUT changing any comparison: different bytes, same
    * perceptual hash (what makes the dedup perceptual, not byte-exact).
    */
  private def pgmFor(hash: Long, offset: Int): Array[Byte] = {
    val head = s"P5\n9 8\n255\n".getBytes("US-ASCII")
    val px = new Array[Byte](72)
    var bit = 63
    var y = 0
    while (y < 8) {
      var v = 128 + offset
      px(y * 9) = v.toByte
      var x = 0
      while (x < 8) {
        v = if (((hash >>> bit) & 1L) == 1L) v - 1 else v + 1
        px(y * 9 + x + 1) = v.toByte
        bit -= 1
        x += 1
      }
      y += 1
    }
    head ++ px
  }

  /** Image bytes per doc — every dedup path constructed to fire:
    *  - class c = doc_id % 12, base hash = mix64(c);
    *  - doc_id % 97 == 0: garbage bytes (no decode → null sig →
    *    always survives);
    *  - doc_id % 5 == 1: base hash with bits 0 and 33 flipped —
    *    hamming 2, two of the four 16-bit bands untouched, so the
    *    band join finds it and the ≤3 verify kills it into the class
    *    cluster;
    *  - doc_id % 5 == 2: base hash with two bits flipped in EVERY
    *    16-bit band (mask 0x0022004200220022) — hamming 8, no shared
    *    band: a separate per-class cluster (its members collapse at
    *    hamming 0);
    *  - otherwise: the exact base hash at a doc-varying brightness
    *    offset — different BYTES, identical hash (the perceptual
    *    point), collapsed by the hamming-0 window.
    */
  private val imgBytesUdf = udf { (docId: Long) =>
    if (docId % 97 == 0) Array[Byte]('n', 'o', 't', 'a', 'p', 'g', 'm')
    else {
      val base = mix64(docId % 12)
      val h =
        if (docId % 5 == 1) base ^ (1L << 0) ^ (1L << 33)
        else if (docId % 5 == 2) base ^ 0x0022004200220022L
        else base
      pgmFor(h, (docId % 3).toInt)
    }
  }

  private val imgSigVariant = "imgdhash"

  /** Perceptual image near-dedup as a suite line: PGM pixels decoded
    * for real, dHash-64, simhash-machinery clustering at hamming ≤ 3,
    * keep-first. The oracle gets the exported (id, sig) frame and
    * re-derives the hamming-0 collapse, the 4 bit-sliced bands, the
    * bucket self-join, the popcount-≤3 verify, and the closure — the
    * `dedup_simhash` trust split with NULL-sig rows (undecodable
    * payloads) proven to pass through undeduped on BOTH sides.
    */
  /** QueriesExtra2.simhashKeepFirstSql's chain with one addition: NULL
    * sigs (undecodable payloads) are excluded from clustering entirely,
    * so those rows fall through the final left join and survive —
    * shared by the image and audio perceptual-dedup oracles.
    */
  private def nullableSigKeepFirstSql(variant: String): String = {
    val glob = QueriesExtra2.sigPath(variant,
      QueriesExtra2.OracleScaleKey) + "/*.parquet"
    "WITH RECURSIVE s AS (SELECT id, sig FROM " +
      s"parquet_scan('$glob') WHERE sig IS NOT NULL), " +
      "cmu AS (SELECT id, sig, min(id) OVER (PARTITION BY sig) AS smin " +
      "FROM s), " +
      "ide AS (SELECT id AS a, smin AS b FROM cmu WHERE id <> smin), " +
      "reps AS (SELECT id, sig FROM cmu WHERE id = smin), " +
      "bd AS (SELECT id, sig, band, (sig >> (band * 16)) & 65535 " +
      "AS chunk FROM reps, LATERAL (SELECT unnest(generate_series(0, " +
      "3)) AS band) g), " +
      "pr AS (SELECT y.id AS a, x.id AS b FROM bd x JOIN bd y ON " +
      "x.band = y.band AND x.chunk = y.chunk AND x.id < y.id " +
      "WHERE bit_count(xor(x.sig, y.sig)) <= 3), " +
      "e0 AS (SELECT a, b FROM pr UNION SELECT a, b FROM ide), " +
      QueriesExtra2.closureFromE0 + " " +
      "SELECT t.doc_id FROM documents t LEFT JOIN root r ON " +
      "t.doc_id = r.id WHERE r.root IS NULL OR r.root = t.doc_id " +
      "ORDER BY t.doc_id"
  }

  /** Export the (id = doc_id + `idOffset`, sig) frame a perceptual
    * dedup derives its edges from, for its SQL oracle.
    */
  private def exportSigs(docs: DataFrame, column: String,
      sigOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      path: String, idOffset: Long = 0L): Unit =
    SideChannel.exportOnce(path)(graft.dedup.SimHash.sigFrame(docs, column,
      sigOf, Some("doc_id"), idOffset))

  val imgDhashDedup: QueryDef = QueryDef("img_dhash_dedup",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
        .select(col("doc_id"), imgBytesUdf(col("doc_id")).as("img"))
      exportSigs(docs, "img", graft.multimodal.ImageHash.dhashUdf,
        QueriesExtra2.sigPath(imgSigVariant, QueriesExtra2.scaleKey(dir)))
      graft.multimodal.ImageHash.deduplicateByDHash(docs, "img",
          maxHamming = 3, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some(nullableSigKeepFirstSql(imgSigVariant)))

  // ---- perceptual audio near-dedup (energy envelope over PCM-16) ----

  /** A mono PCM-16 WAV of exactly 65 samples whose eHash is EXACTLY
    * `hash`: each window is one sample, |sample| steps −1 for a set bit
    * (left energy > right) or +1 for a clear bit from 1000 + `gain` —
    * a uniform gain shifts every window energy equally and changes no
    * comparison (different bytes, same fingerprint).
    */
  private def wavFor(hash: Long, gain: Int): Array[Byte] = {
    val n = 65
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var v = 1000 + gain
    bb.putShort(v.toShort)
    var bit = 63
    var w = 0
    while (w < 64) {
      v = if (((hash >>> bit) & 1L) == 1L) v - 1 else v + 1
      bb.putShort(v.toShort)
      bit -= 1
      w += 1
    }
    bb.array()
  }

  /** Clip bytes per doc — the [[imgBytesUdf]] construction transposed to
    * audio: class c = doc_id % 12 at base hash mix64(c + 5000);
    * doc_id % 89 == 0 → non-WAV garbage (null sig, survives);
    * doc_id % 5 == 1 → hamming 2 (band-join merge);
    * doc_id % 5 == 2 → two bits flipped per 16-bit band (hamming 8,
    * separate cluster); otherwise the exact base hash at a doc-varying
    * gain (different bytes, identical fingerprint).
    */
  private val wavBytesUdf = udf { (docId: Long) =>
    if (docId % 89 == 0) Array[Byte]('n', 'o', 't', 'a', 'w', 'a', 'v')
    else {
      val base = mix64(docId % 12 + 5000L)
      val h =
        if (docId % 5 == 1) base ^ (1L << 3) ^ (1L << 37)
        else if (docId % 5 == 2) base ^ 0x0044001100440011L
        else base
      wavFor(h, 50 * (docId % 3).toInt)
    }
  }

  private val audioSigVariant = "audioehash"

  /** Audio perceptual near-dedup as a suite line — the audio twin of
    * [[imgDhashDedup]]: PCM-16 decoded for real, 64-bit energy-envelope
    * hash, simhash-machinery clustering at hamming ≤ 3, keep-first;
    * DuckDB replays the full decision from the exported (id, sig)
    * frame, undecodable rows proven to pass through on both sides.
    */
  val audioEhashDedup: QueryDef = QueryDef("audio_ehash_dedup",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
        .select(col("doc_id"), wavBytesUdf(col("doc_id")).as("clip"))
      exportSigs(docs, "clip", graft.multimodal.AudioHash.ehashUdf,
        QueriesExtra2.sigPath(audioSigVariant, QueriesExtra2.scaleKey(dir)))
      graft.multimodal.AudioHash.deduplicateByEHash(docs, "clip",
          maxHamming = 3, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some(nullableSigKeepFirstSql(audioSigVariant)))

  // ---- incremental perceptual dedup against a persisted sig store ----

  private val Off = graft.dedup.MinHashDedup.NewIdOffset

  private def sigStorePath(key: String) = s"/tmp/graft_sig_store_img_$key"

  /** Retained-corpus image per doc: 20 hash classes (so the store is 20
    * rows — one per distinct signature), with ≡0 mod 83 docs carrying
    * undecodable payloads (the store build must drop them).
    */
  private val refImgUdf = udf { (docId: Long) =>
    if (docId % 83 == 0) Array[Byte]('b', 'a', 'd', 'r', 'e', 'f')
    else pgmFor(mix64(docId % 20 + 7000L), (docId % 2).toInt)
  }

  /** Increment image per doc — every |delta| path fires: exact class
    * copy (hamming 0 → dies), 2-bit variant (band-join cross kill),
    * shared fresh class (within-increment keep-first), unique fresh
    * (survives), undecodable (null sig, survives).
    */
  private val incImgUdf = udf { (docId: Long) =>
    docId % 5 match {
      case 0 => pgmFor(mix64(docId % 20 + 7000L), 9)
      case 1 => pgmFor(mix64(docId % 20 + 7000L) ^ (1L << 3) ^ (1L << 50), 0)
      case 2 => pgmFor(mix64(docId % 12 + 9001L), (docId % 3).toInt)
      case 3 => pgmFor(mix64(docId + 9500L), 0)
      case _ => Array[Byte]('b', 'a', 'd', 'i', 'n', 'c')
    }
  }

  /** Incremental near-dedup for the HAMMING family (the minhash
    * `incr_near_dedup` architecture extended per r11: one (sig, min id)
    * store row per distinct retained signature, increment signatures
    * computed for the delta only, pigeonhole band join against the
    * store). DuckDB replays the ENTIRE decision from the two exported
    * frames — the store and the increment's (id, sig) — re-deriving the
    * within-increment collapse/band pairs, the increment×store banded
    * hamming join, the closure, and the root-below-offset death rule;
    * null signatures on BOTH sides proven handled (dropped from the
    * store, passed through the increment).
    */
  val incrImgDedup: QueryDef = QueryDef("incr_img_dedup",
    (s, dir) => {
      import graft.dedup.SimHash
      import graft.multimodal.ImageHash
      val docs = Queries.table(s, dir, "documents")
      val ref = docs.where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"), refImgUdf(col("doc_id")).as("img"))
      val inc = docs.where(col("doc_id") % 11 === 0)
        .select(col("doc_id"), incImgUdf(col("doc_id")).as("img"))
      val key = QueriesExtra2.scaleKey(dir)
      val store = SideChannel.readBack(sigStorePath(key))(
        SimHash.sigStore(ref, "img", ImageHash.dhashUdf, Some("doc_id")))
      exportSigs(inc, "img", ImageHash.dhashUdf,
        QueriesExtra2.sigPath("incrimg", key), Off)
      SimHash.deduplicateAgainstSigStore(inc, store, "img",
          ImageHash.dhashUdf, maxHamming = 3, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some {
      val stGlob = sigStorePath(QueriesExtra2.OracleScaleKey) + "/*.parquet"
      val incGlob = QueriesExtra2.sigPath("incrimg",
        QueriesExtra2.OracleScaleKey) + "/*.parquet"
      "WITH RECURSIVE st AS (SELECT sig, id AS sid FROM " +
        s"parquet_scan('$stGlob')), " +
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
        // within-increment pairs over reps; cross edges band ALL
        // increment rows against the store (the engine's exact shape)
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

  // ---- perceptual video near-dedup (frame-size envelope over stsz) ----

  private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
    bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
    bb.array()
  }

  /** A minimal MP4 (ftyp + moov/trak/mdia/minf/stbl/stsz) whose 65
    * per-sample sizes step ±1 from 1000 + `pad` per the bits of `hash` —
    * one sample per envelope window, so [[graft.multimodal.VideoHash]]'s
    * fingerprint is EXACTLY `hash`; `pad` models re-muxing with a
    * constant per-frame container overhead (every window shifts equally,
    * no comparison flips — different bytes, same fingerprint).
    */
  private def mp4For(hash: Long, pad: Int): Array[Byte] = {
    val stszP = java.nio.ByteBuffer.allocate(12 + 65 * 4)
    stszP.putInt(0).putInt(0).putInt(65) // version+flags, size=0, count
    var v = 1000 + pad
    stszP.putInt(v)
    var bit = 63
    var w = 0
    while (w < 64) {
      v = if (((hash >>> bit) & 1L) == 1L) v - 1 else v + 1
      stszP.putInt(v)
      bit -= 1
      w += 1
    }
    val hdlr = box("hdlr",
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 0) ++ "vide".getBytes("US-ASCII"))
    val moov = box("moov", box("trak", box("mdia", hdlr ++ box("minf",
      box("stbl", box("stsz", stszP.array()))))))
    box("ftyp", "isom   isom".getBytes("US-ASCII")) ++
      moov
  }

  /** Clip bytes per doc — the image/audio construction transposed to
    * video: class c = doc_id % 12 at base hash mix64(c + 11000);
    * doc_id % 101 == 0 → non-MP4 garbage (null sig, survives);
    * doc_id % 5 == 1 → hamming 2; doc_id % 5 == 2 → two bits per band
    * (hamming 8); otherwise the exact base hash at a doc-varying
    * container pad.
    */
  private val mp4BytesUdf = udf { (docId: Long) =>
    if (docId % 101 == 0) Array[Byte]('n', 'o', 't', 'm', 'p', '4')
    else {
      val base = mix64(docId % 12 + 11000L)
      val h =
        if (docId % 5 == 1) base ^ (1L << 6) ^ (1L << 41)
        else if (docId % 5 == 2) base ^ 0x0088002200880022L
        else base
      mp4For(h, 4 * (docId % 3).toInt)
    }
  }

  private val videoSigVariant = "videofhash"

  /** Video perceptual near-dedup — the third member of the perceptual
    * family: the MP4 container's stsz sample-size table parsed for real
    * (no codec), frame-size envelope fingerprint, simhash-machinery
    * clustering; DuckDB replays the full decision from the exported
    * (id, sig) frame, undecodable rows pass through on both sides.
    */
  val videoFhashDedup: QueryDef = QueryDef("video_fhash_dedup",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
        .select(col("doc_id"), mp4BytesUdf(col("doc_id")).as("clip"))
      exportSigs(docs, "clip", graft.multimodal.VideoHash.fhashUdf,
        QueriesExtra2.sigPath(videoSigVariant, QueriesExtra2.scaleKey(dir)))
      graft.multimodal.VideoHash.deduplicateByFHash(docs, "clip",
          maxHamming = 3, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some(nullableSigKeepFirstSql(videoSigVariant)))

  val all: Seq[QueryDef] = Seq(annIvfPqKnnJoin, annIvfPqRefineKnn,
    imgDhashDedup, audioEhashDedup, incrImgDedup, videoFhashDedup)
}
