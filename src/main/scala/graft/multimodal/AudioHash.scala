package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.SimHash

/** Perceptual audio near-dedup — the audio member of the dedup family
  * beside [[ImageHash]]: re-encoded or volume-adjusted copies of the
  * same clip defeat byte dedup, so clips are compared by a 64-bit
  * energy-envelope fingerprint at hamming distance (the shape of
  * Chromaprint/Shazam-style fingerprints reduced to the
  * zero-dependency arithmetic this engine can make exactly replayable).
  *
  * Pixel-equivalent trust split: RIFF/WAVE PCM-16 is decoded FOR REAL
  * (the one audio codec needing no library — [[Multimodal.decodeWav]]
  * already parses the same headers for metadata; this decoder also
  * lifts the samples), the fingerprint is integer arithmetic end to
  * end, and the dedup DECISION replays in SQL from the exported
  * (id, sig) frame via the shared simhash pigeonhole machinery.
  *
  * eHash: mix to mono (integer per-frame channel mean), split the
  * samples into 65 equal windows, energy = Σ|sample| per window (exact
  * Longs), bit w (MSB first) set iff energy(w) > energy(w+1). Uniform
  * volume scaling and small noise leave the comparisons unchanged;
  * structural change (different envelope) flips bits proportionally.
  *
  * Scale shape: hashing is a narrow per-row pass; the 8-byte hash
  * stands in for the clip downstream. Dedup = the simhash band
  * machinery — never all-pairs.
  */
object AudioHash {

  /** Decode RIFF/WAVE uncompressed PCM (format 1, 16-bit): returns
    * (channels, sampleRate, mono samples) or None for anything else —
    * same hostile-size discipline as [[Multimodal.decodeWav]] (Long
    * cursor, declared sizes never over-read; a data chunk longer than
    * the buffer truncates to the bytes present).
    */
  def decodePcm16(b: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (b == null || b.length < 44) return None
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F') return None
    if (b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
    def le16(i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def le32(i: Int): Long = (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    var fmt: Option[(Int, Int)] = None // channels, rate (PCM-16 only)
    var dataOff = -1L
    var dataLen = -1L
    var i = 12L
    while (i + 8 <= b.length && (fmt.isEmpty || dataOff < 0)) {
      val ii = i.toInt
      val id = new String(b, ii, 4, "US-ASCII")
      val sz = le32(ii + 4)
      if (id == "fmt " && sz >= 16 && i + 8 + 16 <= b.length) {
        val format = le16(ii + 8)
        val ch = le16(ii + 10)
        val bits = le16(ii + 22)
        if (format == 1 && bits == 16 && ch >= 1)
          fmt = Some((ch, le32(ii + 12).toInt))
      } else if (id == "data") {
        dataOff = i + 8
        dataLen = math.min(sz, b.length - dataOff)
      }
      i += 8L + sz + (sz & 1L)
    }
    fmt.collect { case (ch, rate) if dataOff >= 0 && dataLen >= 2 =>
      val frames = (dataLen / (2L * ch)).toInt
      val mono = new Array[Short](frames)
      var f = 0
      while (f < frames) {
        var sum = 0L
        var c = 0
        while (c < ch) {
          val o = (dataOff + 2L * (f.toLong * ch + c)).toInt
          sum += ((b(o) & 0xff) | (b(o + 1) << 8)).toShort
          c += 1
        }
        mono(f) = (sum / ch).toShort
        f += 1
      }
      (ch, rate, mono)
    }
  }

  /** 64-bit energy-envelope hash over per-sample |amplitude| — window w
    * covers samples [w·n/65, (w+1)·n/65), energy = Σ|sample|
    * (Long-exact), bit (63 − w) set iff energy(w) > energy(w+1), with
    * [[Envelope]]'s content-free guards (constant |amplitude| — e.g. a
    * square wave or silence — is un-fingerprintable). Clips shorter
    * than 65 samples return None. The abs is taken INSIDE the window
    * loop: a per-sample Long copy would transiently 5× a large clip's
    * memory in the hashing UDF.
    */
  def ehash64(samples: Array[Short]): Option[Long] = {
    val n = samples.length
    if (n < Envelope.Windows) return None
    val acc = new Array[Long](Envelope.Windows)
    val first = math.abs(samples(0).toLong)
    var constant = true
    var w = 0
    while (w < Envelope.Windows) {
      // Long product: w·n overflows Int for clips past ~33M samples
      // (~12.5 min mono @44.1kHz) — realistic WAV input
      val s0 = (w.toLong * n / Envelope.Windows).toInt
      val s1 = ((w + 1).toLong * n / Envelope.Windows).toInt
      var e = 0L
      var s = s0
      while (s < s1) {
        val a = math.abs(samples(s).toLong)
        if (a != first) constant = false
        e += a
        s += 1
      }
      acc(w) = e
      w += 1
    }
    Envelope.fromSums(acc, constant)
  }

  /** WAV bytes → eHash as a scalar column; null for non-PCM-16 or
    * sub-65-sample payloads.
    */
  val ehashUdf: Column => Column = {
    val u = udf { (b: Array[Byte]) =>
      decodePcm16(b).flatMap { case (_, _, mono) => ehash64(mono) }
    }
    c => u(c)
  }

  /** Near-dedup rows whose clips hash within `maxHamming` bits, keeping
    * each cluster's first row — [[SimHash.deduplicate]] with the audio
    * fingerprint as the signature (shared banding/verify/clustering;
    * undecodable payloads keep a null signature and always survive).
    */
  def deduplicateByEHash(df: DataFrame, binCol: String,
      maxHamming: Int = 3,
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): DataFrame =
    SimHash.deduplicateBySig(df, binCol, ehashUdf, maxHamming,
      maxDriverEdges, orderCol)
}
