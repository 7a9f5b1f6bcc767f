package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.VideoHash

/** MP4 stsz parsing + frame-size envelope goldens and the video
  * perceptual-dedup semantics (the ImageHash/AudioHash battery for the
  * codec-free frame-size fingerprint).
  */
class VideoHashSpec extends AnyFunSuite with SharedSession {

  private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
    bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
    bb.array()
  }

  private def stszOf(sizes: Seq[Int], sampleSize: Int = 0): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(
      12 + (if (sampleSize == 0) sizes.length * 4 else 0))
    bb.putInt(0).putInt(sampleSize)
      .putInt(if (sampleSize == 0) sizes.length else sizes.length)
    if (sampleSize == 0) sizes.foreach(bb.putInt)
    bb.array()
  }

  private def hdlrOf(kind: String): Array[Byte] =
    box("hdlr", Array[Byte](0, 0, 0, 0, 0, 0, 0, 0) ++
      kind.getBytes("US-ASCII"))

  private def mp4Of(stsz: Array[Byte],
      leadingJunkBox: Boolean = false,
      handler: String = "vide"): Array[Byte] = {
    val chain = box("moov", box("trak", box("mdia", hdlrOf(handler) ++
      box("minf", box("stbl", (if (leadingJunkBox)
        box("stco", Array[Byte](0, 0, 0, 0)) else Array.empty[Byte]) ++
        box("stsz", stsz))))))
    box("ftyp", "isom   isom".getBytes("US-ASCII")) ++ chain
  }

  test("frameSizes: per-sample and constant-size tables, sibling-box " +
      "skip, hostile rejects") {
    val sizes = Seq(10, 20, 30, 25)
    assert(VideoHash.frameSizes(mp4Of(stszOf(sizes))).map(_.toSeq) ===
      Some(sizes.map(_.toLong)))
    // a sibling box before stsz inside stbl is skipped
    assert(VideoHash.frameSizes(mp4Of(stszOf(sizes), leadingJunkBox = true))
      .map(_.toSeq) === Some(sizes.map(_.toLong)))
    // constant-size stream (sample_size != 0, no entry table): None
    // DIRECTLY — a constant series is always un-fingerprintable, so
    // materializing the size array would be guaranteed dead work
    assert(VideoHash.frameSizes(mp4Of(stszOf(Seq(1, 1, 1), sampleSize = 7)))
      === None)
    // declared count whose entries overflow the box -> rejected
    val lying = java.nio.ByteBuffer.allocate(12)
      .putInt(0).putInt(0).putInt(999).array()
    assert(VideoHash.frameSizes(mp4Of(lying)) === None)
    // absurd sample_count cap
    val huge = java.nio.ByteBuffer.allocate(12)
      .putInt(0).putInt(7).putInt(Int.MaxValue).array()
    assert(VideoHash.frameSizes(mp4Of(huge)) === None)
    // not an mp4 / missing path / null
    assert(VideoHash.frameSizes("plainly not a video".getBytes) === None)
    assert(VideoHash.frameSizes(box("ftyp", "isom".getBytes)) === None)
    assert(VideoHash.frameSizes(null) === None)
    // a trak whose hdlr says 'soun' is NOT a video track — audio-first
    // muxing must not fingerprint the audio sample sizes
    assert(VideoHash.frameSizes(mp4Of(stszOf(sizes), handler = "soun"))
      === None)
    // soun trak first, vide trak second: the vide one wins
    val videoSizes = Seq(7, 9, 5, 11)
    val twoTraks = box("ftyp", "isom   isom".getBytes("US-ASCII")) ++
      box("moov",
        box("trak", box("mdia", hdlrOf("soun") ++ box("minf",
          box("stbl", box("stsz", stszOf(sizes)))))) ++
        box("trak", box("mdia", hdlrOf("vide") ++ box("minf",
          box("stbl", box("stsz", stszOf(videoSizes)))))))
    assert(VideoHash.frameSizes(twoTraks).map(_.toSeq) ===
      Some(videoSizes.map(_.toLong)))
  }

  test("constant-bitrate streams are un-fingerprintable: an all-equal " +
      "envelope carries no content information") {
    // 130 equal-size samples WOULD hash purely by count — every CBR file
    // with the same frame count would collide; the envelope refuses
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cbr = mp4Of(stszOf(Seq.fill(130)(0), sampleSize = 512))
    // 131: 65 does NOT divide it, so window sums DIFFER (L vs L+1
    // windows) — the constant-INPUT guard must still refuse
    val cbrOdd = mp4Of(stszOf(Seq.fill(131)(0), sampleSize = 512))
    val sigs = Seq((1L, cbr), (2L, cbrOdd)).toDF("id", "clip")
      .select(col("id"), VideoHash.fhashUdf(col("clip")).as("sig"))
      .collect()
    assert(sigs.forall(_.isNullAt(1)),
      "constant-size streams must not fingerprint at any length")
  }

  test("fhash: identity envelope pins exact bits; constant container " +
      "pad is invariant") {
    val target = 0xC0FFEE1234ABCD99L
    def clip(pad: Int): Array[Byte] = {
      val sizes = new Array[Int](65)
      var v = 1000 + pad
      sizes(0) = v
      var bit = 63
      (0 until 64).foreach { w =>
        v = if (((target >>> bit) & 1L) == 1L) v - 1 else v + 1
        sizes(w + 1) = v
        bit -= 1
      }
      mp4Of(stszOf(sizes.toSeq))
    }
    // hash through the UDF path: frameSizes ∘ Envelope
    import spark.implicits._
    val got = Seq((1L, clip(0)), (2L, clip(12)))
      .toDF("id", "clip")
      .select(org.apache.spark.sql.functions.col("id"),
        VideoHash.fhashUdf(org.apache.spark.sql.functions.col("clip"))
          .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === target)
    assert(got(2L) === target) // pad-invariant
  }

  test("deduplicateByFHash: re-mux collapse, hamming merge, far " +
      "survival, undecodable passthrough") {
    import spark.implicits._
    def clip(hash: Long, pad: Int): Array[Byte] = {
      val sizes = new Array[Int](65)
      var v = 1000 + pad
      sizes(0) = v
      var bit = 63
      (0 until 64).foreach { w =>
        v = if (((hash >>> bit) & 1L) == 1L) v - 1 else v + 1
        sizes(w + 1) = v
        bit -= 1
      }
      mp4Of(stszOf(sizes.toSeq))
    }
    val base = 0x13579BDF02468ACEL
    val rows = Seq(
      1L -> clip(base, 0),
      2L -> clip(base, 8),                        // re-mux -> dies
      3L -> clip(base ^ (1L << 11) ^ (1L << 47), 0), // hamming 2 -> dies
      4L -> clip(base ^ 0x0088002200880022L, 0),  // hamming 8 -> survives
      5L -> "not a video".getBytes("US-ASCII"))   // null sig -> survives
    val kept = VideoHash.deduplicateByFHash(rows.toDF("id", "clip"),
        "clip", maxHamming = 3, orderCol = Some("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 5L))
  }
}
