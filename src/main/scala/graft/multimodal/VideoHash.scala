package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.SimHash

/** Shared 64-bit envelope fingerprint: 65 equal windows over a
  * non-negative Long sequence, window value = Σ entries (exact), bit
  * (63 − w) set iff window(w) > window(w+1). The common core of the
  * audio energy hash and the video frame-size hash — any per-unit
  * magnitude series reduces to a hamming-comparable signature.
  */
private[multimodal] object Envelope {
  val Windows = 65

  def hash64(values: Array[Long]): Option[Long] = {
    val n = values.length
    if (n < Windows) return None
    val acc = new Array[Long](Windows)
    var constant = true
    var w = 0
    while (w < Windows) {
      // Long product: w·n overflows Int past ~33M entries — today shielded
      // by stsz's 2^22 cap, but the shared core must not rely on callers
      val s0 = (w.toLong * n / Windows).toInt
      val s1 = ((w + 1).toLong * n / Windows).toInt
      var e = 0L
      var s = s0
      while (s < s1) {
        if (values(s) != values(0)) constant = false
        e += values(s)
        s += 1
      }
      acc(w) = e
      w += 1
    }
    fromSums(acc, constant)
  }

  /** Window sums → bits, guarded: a CONSTANT input series, or one whose
    * window sums are all equal, carries ZERO content information — its
    * bits would depend only on the series LENGTH (when 65 ∤ n the
    * window lengths alternate L/L+1, so a constant series still yields
    * UNEQUAL sums c·L vs c·(L+1) — the sum guard alone misses it and
    * every constant-bitrate stream / square-wave clip with the same
    * count would collide at hamming 0), so such series are declared
    * un-fingerprintable like sub-65 inputs.
    */
  private[multimodal] def fromSums(acc: Array[Long],
      constantInput: Boolean): Option[Long] = {
    if (constantInput) return None
    var mn = acc(0); var mx = acc(0)
    var w = 1
    while (w < Windows) {
      if (acc(w) < mn) mn = acc(w)
      if (acc(w) > mx) mx = acc(w)
      w += 1
    }
    if (mn == mx) return None
    var sig = 0L
    var bit = 63
    w = 0
    while (w < Windows - 1) {
      if (acc(w) > acc(w + 1)) sig |= 1L << bit
      bit -= 1
      w += 1
    }
    Some(sig)
  }
}

/** Perceptual video near-dedup — the video member of the dedup family
  * beside [[ImageHash]]/[[AudioHash]], built on a trick that needs NO
  * codec: an MP4's `stsz` box (ISO 14496-12 §8.7.3) declares every
  * sample's byte size, and the frame-size sequence is a fingerprint of
  * the encoded stream — two re-muxed/re-containered copies of the same
  * encode share it exactly, and it survives even when the sample DATA
  * is opaque or encrypted (the well-known traffic-analysis property of
  * VBR streams). The multimodal mandate's line between real and
  * stubbed: container structure is parsed for real, frame PIXELS are
  * never decoded.
  *
  * fHash: [[Envelope.hash64]] over the first video track's sample
  * sizes — 65 windows, Σ sizes per window, neighbor comparisons.
  * Re-muxing (same samples, new container) preserves it bit-for-bit;
  * re-encoding changes it; padding every frame by a constant shifts
  * all windows equally and flips nothing.
  *
  * Dedup = the shared simhash pigeonhole machinery, SQL-replayable
  * from the exported (id, sig) frame like its image/audio siblings.
  */
object VideoHash {

  private def be32u(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
  private def be64(b: Array[Byte], i: Int): Long =
    (be32u(b, i) << 32) | be32u(b, i + 4)

  /** The first VIDEO track's `stsz` sample-size table on the
    * moov/trak/mdia/minf/stbl path — a trak qualifies only when its
    * mdia/hdlr declares handler 'vide' (audio-first muxing must not
    * fingerprint the audio track): Some(sizes) with one Long per
    * sample, or None when absent or malformed. Same hostile-size
    * discipline as
    * [[Multimodal.decodeMp4]]'s box walk (Long cursors, declared sizes
    * bounds-checked, largesize/to-end forms handled); a declared
    * sample_count whose entries don't fit the box is REJECTED, not
    * truncated — a partial envelope would fingerprint wrongly. A
    * constant-size stream (sample_size != 0, no entry table) is None
    * directly: a constant series is always un-fingerprintable
    * ([[Envelope.fromSums]]' constant guard), so materializing up to 4M
    * equal Longs (~32MB per row inside the UDF) would be dead work.
    */
  def frameSizes(b: Array[Byte]): Option[Array[Long]] = {
    if (b == null || b.length < 16) return None
    var out: Option[Array[Long]] = None
    def walk(start: Long, end: Long)(f: (String, Long, Long) => Unit): Unit = {
      var i = start
      var ok = true
      while (ok && i + 8 <= end && out.isEmpty) {
        val ii = i.toInt
        var sz: Long = be32u(b, ii)
        var payload = i + 8
        val typ = new String(b, ii + 4, 4, "US-ASCII")
        if (sz == 1L) {
          if (i + 16 > end) return
          sz = be64(b, ii + 8); payload = i + 16
        } else if (sz == 0L) sz = end - i
        if (sz < payload - i || sz > end - i) ok = false
        else { f(typ, payload, i + sz); i += sz }
      }
    }
    // handler type of an mdia box (hdlr payload: version+flags(4),
    // pre_defined(4), handler_type(4)); None when hdlr is absent
    def handlerOf(start: Long, end: Long): Option[String] = {
      var h: Option[String] = None
      walk(start, end) {
        case ("hdlr", p, e) if h.isEmpty && p + 12 <= e =>
          h = Some(new String(b, p.toInt + 8, 4, "US-ASCII"))
        case _ =>
      }
      h
    }
    def descend(path: List[String], start: Long, end: Long): Unit =
      path match {
        case Nil => ()
        case "stsz" :: Nil => walk(start, end) {
          case ("stsz", p, e) if out.isEmpty && p + 12 <= e =>
            val sampleSize = be32u(b, p.toInt + 4)
            val count = be32u(b, p.toInt + 8)
            if (count <= (1L << 22)) { // 4M samples ≈ 38h at 30fps — cap
              if (sampleSize != 0L) {
                // constant-size stream: a constant series is always
                // un-fingerprintable (fromSums' constant guard), so
                // building up to 4M Longs (~32MB/row in the UDF) would be
                // guaranteed dead work — stay None directly
              }
              else if (p + 12 + count * 4 <= e)
                out = Some(Array.tabulate(count.toInt)(k =>
                  be32u(b, (p + 12 + k * 4L).toInt)))
              // else: declared entries don't fit the box — malformed
            }
          case _ =>
        }
        case head :: tail => walk(start, end) {
          case (t, p, e) if t == head && out.isEmpty =>
            // a trak is only a VIDEO trak if its mdia/hdlr says 'vide' —
            // audio-first muxing would otherwise fingerprint the audio
            // track's sample sizes (a trak without a vide hdlr is skipped)
            if (head != "mdia" || handlerOf(p, e).contains("vide"))
              descend(tail, p, e)
          case _ =>
        }
      }
    descend(List("moov", "trak", "mdia", "minf", "stbl", "stsz"),
      0L, b.length.toLong)
    out
  }

  /** MP4 bytes → frame-size envelope hash; null for non-MP4, missing
    * stsz, or sub-65-sample streams.
    */
  val fhashUdf: Column => Column = {
    val u = udf { (b: Array[Byte]) =>
      frameSizes(b).flatMap(Envelope.hash64)
    }
    c => u(c)
  }

  /** Near-dedup rows whose streams hash within `maxHamming` bits —
    * [[SimHash.deduplicate]] with the frame-size fingerprint as the
    * signature; undecodable payloads survive.
    */
  def deduplicateByFHash(df: DataFrame, binCol: String,
      maxHamming: Int = 3,
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): DataFrame =
    SimHash.deduplicateBySig(df, binCol, fhashUdf, maxHamming,
      maxDriverEdges, orderCol)
}
