package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.SimHash

/** Perceptual image near-dedup — the multimodal member of the dedup
  * family: crawled corpora carry the same image re-encoded, resized, or
  * byte-tweaked, so exact byte/hash dedup misses most duplicates; the
  * standard industrial answer is a tiny perceptual fingerprint compared
  * by hamming distance (dHash — Krawetz's difference hash, the
  * baseline of every pHash library).
  *
  * Pixel format: netpbm P5 (PGM), the one raster format a zero-dependency
  * engine can decode FOR REAL (the container can't ship libjpeg — the
  * PNG/JPEG/GIF paths in [[Multimodal]] parse headers only, per the
  * multimodal mandate's stub rule). The PGM parser and the hash are
  * exact integer arithmetic end to end, so signatures are deterministic
  * and the dedup DECISION is replayable in SQL from the exported
  * (id, sig) frame — the same trust split as text simhash
  * (`QueriesExtra2.simhashKeepFirstSql`): pixel→hash is Spark's
  * (golden-vector spec'd), banding/hamming/clustering is the oracle's.
  *
  * dHash: box-average the grayscale raster down to a 9×8 grid, then one
  * bit per horizontal neighbor pair — bit set iff left > right, row
  * major, MSB first. Brightness/contrast shifts and small noise leave
  * the comparisons (hence the hash) unchanged; structural change flips
  * bits roughly in proportion.
  *
  * Scale shape: hashing is a narrow per-row pass (the 8-byte hash then
  * stands in for the image everywhere downstream — ship THAT between
  * stages, not the pixels); dedup reuses the simhash pigeonhole
  * machinery (hamming-0 window collapse, bit-sliced band self-join,
  * popcount verify, shared clustering crossover) — never all-pairs.
  */
object ImageHash {

  /** Parse a binary (8-bit, maxval ≤ 255) PGM: "P5", whitespace,
    * width, height, maxval (each whitespace-separated, '#' comments
    * allowed per spec), ONE whitespace byte, then width×height raster
    * bytes. Returns (width, height, pixels) or None for anything
    * malformed/truncated — a hostile header cannot over-read.
    */
  def decodePgm(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (b == null || b.length < 4 || b(0) != 'P' || b(1) != '5') return None
    var i = 2
    def skipWs(): Boolean = {
      var sawWs = false
      var moving = true
      while (moving && i < b.length) {
        val c = b(i) & 0xff
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == 11 ||
            c == 12) { sawWs = true; i += 1 }
        else if (c == '#') { // comment runs to end of line
          sawWs = true
          while (i < b.length && b(i) != '\n') i += 1
        } else moving = false
      }
      sawWs
    }
    def readInt(): Long = {
      var v = 0L
      var any = false
      while (i < b.length && b(i) >= '0' && b(i) <= '9' && v <= (1L << 32)) {
        v = v * 10 + (b(i) - '0'); any = true; i += 1
      }
      if (any) v else -1L
    }
    if (!skipWs()) return None
    val w = readInt()
    // dimension cap: readInt alone admits values near 2^35, whose
    // product overflows a Long and wraps NEGATIVE — slipping past both
    // bounds checks below into copyOfRange (crash) or a multi-GB
    // allocation. 2^20 per side keeps w·h ≤ 2^40, exact in a Long.
    if (w <= 0 || w > (1L << 20) || !skipWs()) return None
    val h = readInt()
    if (h <= 0 || h > (1L << 20) || !skipWs()) return None
    val maxval = readInt()
    if (maxval <= 0 || maxval > 255) return None
    // exactly ONE whitespace byte separates maxval from the raster
    if (i >= b.length) return None
    val c = b(i) & 0xff
    if (!(c == ' ' || c == '\t' || c == '\n' || c == '\r')) return None
    i += 1
    val n = w * h // both ≤ 2^32 pre-check, product as Long
    if (n > Int.MaxValue - 8 || i + n > b.length) return None
    Some((w.toInt, h.toInt, java.util.Arrays.copyOfRange(b, i, i + n.toInt)))
  }

  private val GridW = 9
  private val GridH = 8

  /** 64-bit dHash of a grayscale raster. Integer throughout: cell
    * (cx, cy) averages pixels x ∈ [cx·w/9, (cx+1)·w/9), y ∈
    * [cy·h/8, (cy+1)·h/8) (floor boundaries, integer-division mean);
    * bit (cy·8 + cx) — MSB first — is set iff cell(cx) > cell(cx+1).
    * A 9×8 input hashes its raw pixels directly (every box is one
    * pixel), which is what lets a spec — and a query construction —
    * pin EXACT target hashes. Images smaller than the grid, and images
    * whose downsampled grid is completely FLAT (no structure to
    * fingerprint — see the guard below), return None; callers keep such
    * rows undeduped.
    */
  def dhash64(w: Int, h: Int, pixels: Array[Byte]): Option[Long] = {
    if (w < GridW || h < GridH || pixels.length < w * h) return None
    val cell = Array.ofDim[Int](GridH, GridW)
    var cy = 0
    while (cy < GridH) {
      val y0 = cy * h / GridH
      val y1 = (cy + 1) * h / GridH
      var cx = 0
      while (cx < GridW) {
        val x0 = cx * w / GridW
        val x1 = (cx + 1) * w / GridW
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += pixels(y * w + x) & 0xff; x += 1 }
          y += 1
        }
        cell(cy)(cx) = (sum / ((y1 - y0).toLong * (x1 - x0))).toInt
        cx += 1
      }
      cy += 1
    }
    // flat-grid guard (the [[Envelope.hash64]] rule): an image whose
    // every downsampled cell is equal — solid colors, uniform noise
    // below the averaging floor — carries no structure; hashing it to 0
    // would collapse a solid-black and a solid-white image (dHash is
    // deliberately brightness-invariant) at hamming 0
    var mn = cell(0)(0); var mx = cell(0)(0)
    cy = 0
    while (cy < GridH) {
      var cx = 0
      while (cx < GridW) {
        if (cell(cy)(cx) < mn) mn = cell(cy)(cx)
        if (cell(cy)(cx) > mx) mx = cell(cy)(cx)
        cx += 1
      }
      cy += 1
    }
    if (mn == mx) return None
    var sig = 0L
    var bit = 63
    cy = 0
    while (cy < GridH) {
      var cx = 0
      while (cx < GridW - 1) {
        if (cell(cy)(cx) > cell(cy)(cx + 1)) sig |= 1L << bit
        bit -= 1
        cx += 1
      }
      cy += 1
    }
    Some(sig)
  }

  /** PGM bytes → dHash as a scalar column; null for undecodable or
    * sub-grid payloads.
    */
  val dhashUdf: Column => Column = {
    val u = udf { (b: Array[Byte]) =>
      decodePgm(b).flatMap { case (w, h, px) => dhash64(w, h, px) }
    }
    c => u(c)
  }

  /** Near-dedup rows whose images hash within `maxHamming` bits, keeping
    * each cluster's first row. Exactly [[SimHash.deduplicate]] with the
    * image hash as the signature — shared banding, verify, and
    * clustering crossover; rows whose payload doesn't decode keep a null
    * signature and always survive.
    */
  def deduplicateByDHash(df: DataFrame, binCol: String,
      maxHamming: Int = 3,
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): DataFrame =
    SimHash.deduplicateBySig(df, binCol, dhashUdf, maxHamming,
      maxDriverEdges, orderCol)
}
