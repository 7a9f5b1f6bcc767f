package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.AudioHash

/** PCM-16 decode + energy-envelope hash goldens and the audio
  * perceptual-dedup semantics (the [[ImageHashSpec]] battery transposed
  * to WAV clips).
  */
class AudioHashSpec extends AnyFunSuite with SharedSession {

  private def wav(samples: Array[Short], channels: Int = 1,
      format: Int = 1, bits: Int = 16,
      extraChunk: Boolean = false): Array[Byte] = {
    val dataLen = samples.length * 2
    val extra = if (extraChunk) 12 else 0
    val bb = java.nio.ByteBuffer.allocate(44 + extra + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + extra + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    if (extraChunk) // unknown chunk BEFORE fmt: the walk must skip it
      bb.put("LIST".getBytes("US-ASCII")).putInt(4)
        .put("INFO".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(format.toShort).putShort(channels.toShort)
      .putInt(8000).putInt(8000 * channels * bits / 8)
      .putShort((channels * bits / 8).toShort).putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(s => bb.putShort(s))
    bb.array()
  }

  test("decodePcm16: samples round-trip, stereo mono-mix, chunk skip, " +
      "hostile rejects") {
    val mono = Array[Short](100, -200, 32767, -32768, 0)
    assert(AudioHash.decodePcm16(wav(mono)).map(_._3.toSeq) ===
      Some(mono.toSeq))
    // unknown chunk before fmt is skipped
    assert(AudioHash.decodePcm16(wav(mono, extraChunk = true))
      .map(_._3.toSeq) === Some(mono.toSeq))
    // stereo mixes per frame with integer mean
    val stereo = Array[Short](100, 200, -100, -301)
    assert(AudioHash.decodePcm16(wav(stereo, channels = 2))
      .map(_._3.toSeq) === Some(Seq[Short](150, -200)))
    // non-PCM format, 8-bit, truncated header, garbage, null
    assert(AudioHash.decodePcm16(wav(mono, format = 3)) === None)
    assert(AudioHash.decodePcm16(wav(mono, bits = 8)) === None)
    assert(AudioHash.decodePcm16("RIFFxxxxWAVE".getBytes) === None)
    assert(AudioHash.decodePcm16("not audio at all".getBytes) === None)
    assert(AudioHash.decodePcm16(null) === None)
    // declared data size past the buffer truncates, never over-reads
    val b = wav(mono)
    val declared = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    declared.putInt(40, 999999) // data chunk size field
    assert(AudioHash.decodePcm16(b).map(_._3.toSeq) === Some(mono.toSeq))
  }

  test("ehash64: 65-sample identity envelope pins exact bits; gain " +
      "invariance; sub-window clips don't hash") {
    val target = 0x5A5AC3C30F0F9999L
    def envelope(gain: Int): Array[Short] = {
      val out = new Array[Short](65)
      var v = 1000 + gain
      out(0) = v.toShort
      var bit = 63
      (0 until 64).foreach { w =>
        v = if (((target >>> bit) & 1L) == 1L) v - 1 else v + 1
        out(w + 1) = v.toShort
        bit -= 1
      }
      out
    }
    assert(AudioHash.ehash64(envelope(0)) === Some(target))
    assert(AudioHash.ehash64(envelope(500)) === Some(target))
    // negative samples hash by |sample| — a polarity flip is inaudible
    assert(AudioHash.ehash64(envelope(0).map(s => (-s).toShort)) ===
      Some(target))
    assert(AudioHash.ehash64(new Array[Short](64)) === None)
    // constant |amplitude| (square wave, silence) carries no envelope
    // information — two different-frequency square waves of equal length
    // would otherwise collide; un-fingerprintable, including at lengths
    // NOT divisible by 65 where window sums differ but bits would
    // depend only on the length
    assert(AudioHash.ehash64(Array.fill[Short](130)(500)) === None)
    assert(AudioHash.ehash64(Array.fill[Short](131)(500)) === None)
    assert(AudioHash.ehash64(
      Array.tabulate[Short](131)(i => if (i % 2 == 0) 500 else -500))
      === None)
    assert(AudioHash.ehash64(new Array[Short](200)) === None)
    // multi-sample windows: duplicating every sample 3x scales every
    // window energy by 3 -> same comparisons, same hash
    val tripled = envelope(0).flatMap(s => Array(s, s, s))
    assert(AudioHash.ehash64(tripled) === Some(target))
    // ADVICE r11 regression: w·n must be computed in Long — at
    // n > Int.MaxValue/64 (~33.5M samples, a ~12.5 min mono 44.1kHz WAV)
    // the Int product went negative and indexed out of bounds. Repeat
    // each envelope sample 523077× (n = 65·523077 ≈ 34M, window w maps
    // exactly to envelope sample w) → same hash, no crash.
    val reps = 523077
    val long = new Array[Short](65 * reps)
    val env = envelope(0)
    var i = 0
    while (i < long.length) { long(i) = env(i / reps); i += 1 }
    assert(AudioHash.ehash64(long) === Some(target))
  }

  test("deduplicateByEHash: gain-shifted collapse, hamming merge, far " +
      "survival, undecodable passthrough") {
    import spark.implicits._
    def clip(hash: Long, gain: Int): Array[Byte] = {
      val out = new Array[Short](65)
      var v = 1000 + gain
      out(0) = v.toShort
      var bit = 63
      (0 until 64).foreach { w =>
        v = if (((hash >>> bit) & 1L) == 1L) v - 1 else v + 1
        out(w + 1) = v.toShort
        bit -= 1
      }
      wav(out)
    }
    val base = 0x123456789ABCDEF0L
    val rows = Seq(
      1L -> clip(base, 0),
      2L -> clip(base, 77),                     // same envelope, louder
      3L -> clip(base ^ (1L << 7) ^ (1L << 55), 0), // hamming 2 -> merges
      4L -> clip(base ^ 0x0044001100440011L, 0),    // hamming 8 -> survives
      5L -> "not a wav".getBytes("US-ASCII"))       // null sig -> survives
    val kept = AudioHash.deduplicateByEHash(rows.toDF("id", "clip"),
        "clip", maxHamming = 3, orderCol = Some("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 5L))
  }
}
