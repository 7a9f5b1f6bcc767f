package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.ImageHash

/** PGM decode + dHash golden vectors and the perceptual-dedup semantics:
  * byte-different / brightness-shifted images with identical structure
  * collapse, small structural change (≤3 bits) merges via the band
  * join, large change survives, undecodable payloads pass through.
  */
class ImageHashSpec extends AnyFunSuite with SharedSession {

  private def pgm(w: Int, h: Int, px: Array[Byte],
      header: String = ""): Array[Byte] = {
    val head = if (header.nonEmpty) header else s"P5\n$w $h\n255\n"
    head.getBytes("US-ASCII") ++ px
  }

  test("decodePgm: header forms, comments, and hostile inputs") {
    val px = Array.tabulate[Byte](6)(_.toByte)
    assert(ImageHash.decodePgm(pgm(3, 2, px)).map {
      case (w, h, p) => (w, h, p.toSeq) } === Some((3, 2, px.toSeq)))
    // comment between fields, CRLF whitespace
    val withComment = "P5\n# a comment\n3 2\r\n255 ".getBytes("US-ASCII") ++ px
    assert(ImageHash.decodePgm(withComment).map {
      case (w, h, p) => (w, h, p.toSeq) } === Some((3, 2, px.toSeq)))
    // hostile: wrong magic, maxval > 255, zero dims, truncated raster,
    // missing separator, null
    assert(ImageHash.decodePgm("P6\n3 2\n255\nabcdef".getBytes) === None)
    assert(ImageHash.decodePgm(pgm(3, 2, px, "P5\n3 2\n65535\n")) === None)
    assert(ImageHash.decodePgm(pgm(3, 2, px, "P5\n0 2\n255\n")) === None)
    assert(ImageHash.decodePgm(pgm(3, 2, Array[Byte](1, 2, 3)))
      === None)
    assert(ImageHash.decodePgm("P5\n3 2\n255".getBytes) === None)
    assert(ImageHash.decodePgm(null) === None)
    // a declared size far past the buffer must not over-read
    assert(ImageHash.decodePgm(
      "P5\n999999 999999\n255\nxx".getBytes) === None)
    // dimensions whose PRODUCT overflows a Long must not wrap negative
    // past the bounds checks into copyOfRange / a giant allocation
    assert(ImageHash.decodePgm(
      "P5\n4000000000 4000000000\n255\n xx".getBytes) === None)
    assert(ImageHash.decodePgm(
      "P5\n3037000500 3037000500\n255\n xx".getBytes) === None)
  }

  test("dhash64: 9x8 identity raster pins exact bits; brightness " +
      "invariance; 2x-downsample golden") {
    // identity case: every box is one pixel, bit = left > right
    val target = 0xA5C3F00F12345678L
    val px = new Array[Byte](72)
    var bit = 63
    (0 until 8).foreach { y =>
      var v = 128
      px(y * 9) = v.toByte
      (0 until 8).foreach { x =>
        v = if (((target >>> bit) & 1L) == 1L) v - 1 else v + 1
        px(y * 9 + x + 1) = v.toByte
        bit -= 1
      }
    }
    assert(ImageHash.dhash64(9, 8, px) === Some(target))
    // brightness shift: +10 on every pixel, comparisons unchanged
    val brighter = px.map(b => ((b & 0xff) + 10).toByte)
    assert(ImageHash.dhash64(9, 8, brighter) === Some(target))
    // 18x16: each 2x2 box averages to the SAME grid as the identity
    // raster -> same hash
    val big = new Array[Byte](18 * 16)
    (0 until 16).foreach { y =>
      (0 until 18).foreach { x =>
        big(y * 18 + x) = px((y / 2) * 9 + (x / 2))
      }
    }
    assert(ImageHash.dhash64(18, 16, big) === Some(target))
    // sub-grid images don't hash
    assert(ImageHash.dhash64(8, 8, new Array[Byte](64)) === None)
    assert(ImageHash.dhash64(9, 7, new Array[Byte](63)) === None)
    // FLAT images don't hash either: solid black and solid white would
    // otherwise both hash to 0 (dHash is brightness-invariant) and
    // falsely collapse at hamming 0
    assert(ImageHash.dhash64(9, 8, Array.fill[Byte](72)(0)) === None)
    assert(ImageHash.dhash64(9, 8, Array.fill[Byte](72)(-1)) === None)
  }

  test("deduplicateByDHash: perceptual collapse, band-join merge, " +
      "far-hash survival, undecodable passthrough") {
    import spark.implicits._
    def img(hash: Long, offset: Int): Array[Byte] =
      TestFixtures.pgmOf(hash, offset)
    val base = 0x0F0F00FF12345678L
    val rows = Seq(
      1L -> img(base, 0),
      2L -> img(base, 7),                       // same hash, different bytes
      3L -> img(base ^ (1L << 2) ^ (1L << 40), 0), // hamming 2 -> merges
      4L -> img(base ^ 0x0022004200220022L, 0), // hamming 8 -> survives
      5L -> img(base ^ 0x0022004200220022L, 3), // its hamming-0 twin dies
      6L -> "corrupted payload".getBytes("US-ASCII").map(identity), // null sig
      7L -> "P5\n9 8\n255\nshort".getBytes("US-ASCII")) // truncated -> null
    val df = rows.toDF("id", "img")
    val kept = ImageHash.deduplicateByDHash(df, "img", maxHamming = 3,
        orderCol = Some("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L, 6L, 7L))
  }
}
