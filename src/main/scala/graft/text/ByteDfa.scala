package graft.text

import scala.collection.mutable

import org.apache.spark.unsafe.types.UTF8String

/** Byte-level Aho–Corasick DFA over UTF-8 — the hot-path engine behind
  * [[AhoHolder]] (`check_nsfw_words` count mode, `check_ethics` match-any
  * mode). Same semantics as the char-level [[AhoCorasick]] (differential
  * spec: `ByteDfaSpec`), with the whole transition function precomputed
  * into one flat `nodes × 256` int table: one array index per input byte,
  * no per-char Map lookup, no boxing, and — decisive at corpus scale — no
  * UTF-16 `toString` conversion of the haystack. A byte-level match is
  * exactly a codepoint-level match: a needle's first byte is always a
  * UTF-8 lead byte, which can never equal a continuation byte, so matches
  * cannot start mid-codepoint; non-overlap arithmetic in byte positions is
  * therefore equivalent to Python's `str.count` in codepoint positions.
  *
  * Memory: the NSFW list (~400 needles, ~4k trie nodes) costs ~4 MB of
  * goto table per JVM — object-held, built once, never serialized.
  */
object ByteDfa {
  // JVM-global build cache. The holder that owns a DFA is serialized into
  // every TASK (it rides the WholeStageCodegen references array), and its
  // @transient lazy field re-triggers the build per deserialized copy —
  // ~150 ms for the NSFW table, which at 32 tasks was 5× the actual scan
  // time (r18 measurement, PERF.md). Content-keyed, so every task of
  // every query over the same needle list shares one automaton per JVM.
  //
  // BOUNDED (r19, VERDICT r18 nit): `MultiMatch.containsAny/countMatches`
  // is a public API taking arbitrary needle arrays, and the NSFW-sized
  // goto table is ~4 MB — an unbounded map would pin every distinct
  // ad-hoc list forever in a long-lived driver/executor JVM. Access-order
  // LRU capped at [[CacheCap]] (the whole shipped-lexicon working set is
  // 4 lists; 16 leaves a wide margin for ad-hoc configs while bounding
  // worst-case retention at ~64 MB). Eviction only drops the CACHE's
  // reference — a holder already scanning keeps its automaton, and a
  // later task simply rebuilds (~150 ms, once per JVM per re-entry).
  private[graft] val CacheCap = 16
  private val cache =
    new java.util.LinkedHashMap[String, ByteDfa](32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, ByteDfa]): Boolean =
        size() > CacheCap
    }

  /** Length-prefixed content key: unambiguous even for needles that
    * contain the separator — `["a<NUL>b"]` and `["a","b"]` must never
    * share an automaton (the r18 NUL-join key collided them).
    */
  private[graft] def cacheKey(needles: Array[String]): String = {
    val sb = new java.lang.StringBuilder(needles.length * 12)
    needles.foreach { n => sb.append(n.length).append(':').append(n) }
    sb.toString
  }

  private[graft] def cacheSize: Int = cache.synchronized(cache.size())
  private[graft] def clearCache(): Unit = cache.synchronized(cache.clear())

  def forNeedles(needles: Array[String]): ByteDfa = {
    val key = cacheKey(needles)
    // build OUTSIDE the lock when absent: a 150 ms build under the cache
    // lock would serialize every first-touch task of unrelated queries
    val hit = cache.synchronized(Option(cache.get(key)))
    hit.getOrElse {
      val built = new ByteDfa(needles)
      cache.synchronized {
        val raced = cache.get(key)
        if (raced != null) raced
        else { cache.put(key, built); built }
      }
    }
  }
}

final class ByteDfa(needles: Array[String]) extends Serializable {

  private val needleBytes: Array[Array[Byte]] =
    needles.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  /** Byte length per needle — non-overlap window arithmetic. */
  private val lens: Array[Int] = needleBytes.map(_.length)
  private val nNeedles = needles.length

  // ---- build: byte trie → BFS fail links → full goto table
  private val (goto: Array[Int], outFlat: Array[Array[Int]]) = {
    val children = mutable.ArrayBuffer(mutable.Map.empty[Int, Int])
    val outBuf = mutable.ArrayBuffer[List[Int]](Nil)
    needleBytes.zipWithIndex.foreach { case (nb, ni) =>
      var cur = 0
      nb.foreach { b =>
        cur = children(cur).getOrElseUpdate(b & 0xff, {
          children += mutable.Map.empty[Int, Int]
          outBuf += Nil
          children.size - 1
        })
      }
      outBuf(cur) = ni :: outBuf(cur)
    }
    val n = children.size
    val g = new Array[Int](n * 256)
    val fail = new Array[Int](n)
    val queue = mutable.Queue.empty[Int]
    // root row: missing byte → stay at root
    children(0).foreach { case (b, v) => g(b) = v; queue += v }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      val base = u * 256
      var b = 0
      while (b < 256) {
        children(u).get(b) match {
          case Some(v) =>
            g(base + b) = v
            fail(v) = g(fail(u) * 256 + b)
            outBuf(v) = outBuf(v) ::: outBuf(fail(v))
            queue += v
          case None =>
            g(base + b) = g(fail(u) * 256 + b)
        }
        b += 1
      }
    }
    (g, outBuf.map(_.toArray).toArray)
  }

  /** ASCII A–Z → a–z, fused into the scan: on the full-ASCII fast path it
    * replaces `toLowerCase` outright; on the pre-lowered unicode path it's
    * a no-op (no A–Z remain). Needle bytes 0x41–0x5A become unreachable,
    * exactly as they were against a lowered haystack.
    */
  @inline private def low(b: Byte): Int = {
    val x = b & 0xff
    if (x >= 'A' && x <= 'Z') x + 32 else x
  }

  /** Σ over needles of Python-`str.count`-style non-overlapping counts in
    * the ASCII-lowered bytes. The per-needle `lastEnd` scratch allocates
    * lazily — zero garbage for the (typical) row with no match at all.
    */
  def countBytes(s: UTF8String): Long = {
    val n = s.numBytes()
    var lastEnd: Array[Int] = null
    var total = 0L
    var state = 0
    var i = 0
    while (i < n) {
      state = goto(state * 256 + low(s.getByte(i)))
      val os = outFlat(state)
      if (os.length != 0) {
        if (lastEnd == null) lastEnd = Array.fill(nNeedles)(-1)
        var j = 0
        while (j < os.length) {
          val ni = os(j)
          if (i - lens(ni) + 1 > lastEnd(ni)) { total += 1; lastEnd(ni) = i }
          j += 1
        }
      }
      i += 1
    }
    total
  }

  /** Per-needle OVERLAPPING occurrence counts over the RAW bytes (r19 —
    * the NB vocab-count kernel): `out(i)` += the number of positions where
    * needle i's byte encoding occurs in `s`, overlaps included, no ASCII
    * lowering (the caller passes an already-lowercased haystack so the
    * counts line up with grams extracted from `lower(text)`). For valid
    * UTF-8 this equals the codepoint-window count: a needle's first byte
    * is a lead byte, which never equals a continuation byte, so a byte
    * match cannot start mid-codepoint and always spans whole codepoints.
    */
  def countEachInto(s: UTF8String, out: Array[Long]): Unit = {
    val n = s.numBytes()
    var state = 0
    var i = 0
    while (i < n) {
      state = goto(state * 256 + (s.getByte(i) & 0xff))
      val os = outFlat(state)
      var j = 0
      while (j < os.length) { out(os(j)) += 1L; j += 1 }
      i += 1
    }
  }

  /** True iff any needle occurs in the ASCII-lowered bytes (early exit). */
  def containsBytes(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var state = 0
    var i = 0
    while (i < n) {
      state = goto(state * 256 + low(s.getByte(i)))
      if (outFlat(state).length != 0) return true
      i += 1
    }
    false
  }
}
