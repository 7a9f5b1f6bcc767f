package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal oracle queries: media metadata decode (batched decode
  * path, WAV and MP4 headers over genuine constructed byte streams),
  * frame sampling, and perceptual near-dedup of images, audio and video
  * (plus incremental image dedup against a persisted signature store).
  * The decode oracles recompute the expected fields from the same
  * construction arithmetic WITHOUT parsing; the dedup oracles replay the
  * clustering from the exported (id, sig) frames, with NULL-sig rows
  * (undecodable payloads) passing through undeduped on both sides.
  */
object QueriesMultimodal {

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

  /** The keep-first oracle of a perceptual dedup at hamming ≤ 3: NULL
    * sigs (undecodable payloads) stay out of the clustering and survive.
    */
  private def perceptualKeepFirstSql(variant: String): String =
    OracleSql.simhashKeepFirstSql(variant, 3, "documents", "doc_id",
      skipNullSigs = true)

  /** Export the (id = doc_id + `idOffset`, sig) frame a perceptual
    * dedup derives its edges from, for its SQL oracle.
    */
  private def exportSigs(docs: DataFrame, column: String,
      sigOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      dir: String, variant: String, idOffset: Long = 0L): Unit =
    SideChannel.exportOnce(dir, s"dedup_sigs_$variant")(
      graft.dedup.SimHash.sigFrame(docs, column, sigOf, Some("doc_id"),
        idOffset))

  /** Perceptual image near-dedup as a suite line: PGM pixels decoded
    * for real, dHash-64, simhash-machinery clustering at hamming ≤ 3,
    * keep-first. The oracle gets the exported (id, sig) frame and
    * re-derives the hamming-0 collapse, the 4 bit-sliced bands, the
    * bucket self-join, the popcount-≤3 verify, and the closure — the
    * `dedup_simhash` trust split with NULL-sig rows (undecodable
    * payloads) proven to pass through undeduped on BOTH sides.
    */
  val imgDhashDedup: QueryDef = QueryDef("img_dhash_dedup",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
        .select(col("doc_id"), imgBytesUdf(col("doc_id")).as("img"))
      exportSigs(docs, "img", graft.multimodal.ImageHash.dhashUdf,
        dir, imgSigVariant)
      graft.multimodal.ImageHash.deduplicateByDHash(docs, "img",
          maxHamming = 3, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some(perceptualKeepFirstSql(imgSigVariant)))

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
        dir, audioSigVariant)
      graft.multimodal.AudioHash.deduplicateByEHash(docs, "clip",
          maxHamming = 3, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some(perceptualKeepFirstSql(audioSigVariant)))

  // ---- incremental perceptual dedup against a persisted sig store ----

  private val Off = graft.dedup.MinHashDedup.NewIdOffset

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
      SideChannel.exportOnce(dir, "sig_store_img")(
        SimHash.sigStore(ref, "img", ImageHash.dhashUdf, Some("doc_id")))
      val store = s.read.parquet(SideChannel.path("sig_store_img"))
      exportSigs(inc, "img", ImageHash.dhashUdf, dir, "incrimg", Off)
      SimHash.deduplicateAgainstSigStore(inc, store, "img",
          ImageHash.dhashUdf, maxHamming = 3, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some("WITH RECURSIVE st AS (SELECT sig, id AS sid FROM " +
      s"${OracleSql.scan("sig_store_img")}), " +
      OracleSql.sigStoreTail("incrimg", 3, Off)))

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
    box("ftyp", "isom\u0000\u0000\u0002\u0000isom".getBytes("US-ASCII")) ++
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
        dir, videoSigVariant)
      graft.multimodal.VideoHash.deduplicateByFHash(docs, "clip",
          maxHamming = 3, orderCol = Some("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },
    Some(perceptualKeepFirstSql(videoSigVariant)))

  val all: Seq[QueryDef] = Seq(mmDecode, mmFrames, mmAudio, mmVideo,
    imgDhashDedup, audioEhashDedup, incrImgDedup, videoFhashDedup)
}
