package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass kernels for the three reference ops whose composed
  * column forms (strip → substring → isin, replace → replace → strip →
  * length, strip → replace) allocate intermediate strings per row. Each
  * kernel is semantically identical to the composed form it replaces —
  * `FusedTextSpec` proves it differentially — but runs as one byte scan
  * with at most one allocation, so the per-row cost at 100 TB is the scan,
  * not the garbage.
  *
  * Whitespace is ASCII `\s` (= `[ \t\n\x0B\f\r ]`), matching
  * [[GraftStrings.stripWs]] — the engine-wide Python-`strip()` stand-in
  * that every oracle replays.
  *
  * PRECONDITION: inputs are well-formed UTF-8. Every producer in this
  * engine satisfies it — Spark's parquet/json/csv readers validate or
  * repair UTF-8 on ingest, and `UTF8String` literals come from JVM
  * strings — so the kernels choose speed over byte-sequence validation.
  * On malformed bytes the kernels are total (no exception, no OOB read)
  * but may diverge from the composed forms they replaced: e.g.
  * [[lowercaseRatio]] counts codepoints as non-continuation bytes, so a
  * LONE continuation byte (invalid) is invisible to its denominator
  * while `length()` would count a replacement char. `FusedTextSpec`
  * ("malformed UTF-8 …") pins the chosen totals so any future kernel
  * change on this edge is a conscious one.
  */
object GraftTextKernels {
  @inline private def isWs(b: Byte): Boolean =
    b == ' '.toByte || (b >= 0x09 && b <= 0x0d)

  /** Byte-membership table for the ASCII members of `check_completion`'s
    * terminal-punctuation set (filters.py:143: `. ! ? * " ~ ' ] ) ` ;`).
    * The two non-ASCII members (U+201D ”, U+2026 …) are matched on their
    * UTF-8 bytes below.
    */
  private val AsciiTerminal: Array[Boolean] = {
    val t = new Array[Boolean](128)
    ".!?*\"~']);`".foreach(c => t(c.toInt) = true)
    t
  }

  /** F7 `check_completion` (filters.py:146-156): last character of the
    * stripped document is terminal punctuation; empty after strip → false.
    * ≡ `substring(stripWs(c), -1, 1) isin punctuations` with zero
    * allocation: trailing-whitespace trim is a backward byte scan (ASCII
    * bytes never occur inside UTF-8 multi-byte sequences), then the final
    * codepoint is matched in place — ASCII via table, else against the
    * UTF-8 bytes of U+201D (e2 80 9d) and U+2026 (e2 80 a6). The leading
    * strip can't change the last character unless the string is all
    * whitespace, which the backward scan already reports as empty.
    */
  def isCompleted(s: UTF8String): Boolean = {
    var j = s.numBytes()
    while (j > 0 && isWs(s.getByte(j - 1))) j -= 1
    if (j == 0) return false
    val b = s.getByte(j - 1)
    if (b >= 0) return AsciiTerminal(b.toInt)
    // scan back to the lead byte of the final codepoint
    var k = j - 1
    while (k > 0 && (s.getByte(k) & 0xc0) == 0x80) k -= 1
    if (j - k != 3 || s.getByte(k) != 0xe2.toByte ||
        s.getByte(k + 1) != 0x80.toByte) return false
    val last = s.getByte(k + 2)
    last == 0x9d.toByte || last == 0xa6.toByte
  }

  /** F9 `check_empty` (filters.py:178-185): non-empty after deleting all
    * `"..."` then all `"…"` and stripping. ≡ `length(stripWs(
    * replace(replace(c, "...", ""), "…", ""))) != 0`, rewritten as an
    * early-exit survivor scan: the stripped deletion result is non-empty
    * iff some non-whitespace character survives deletion. `…` never
    * survives; a `.` survives iff its maximal run has length ≢ 0 (mod 3)
    * (Python's single-pass non-overlapping replace removes ⌊n/3⌋·3 dots
    * from an n-run, and deleting dots never merges two runs — only dots
    * sat between them); every other non-whitespace character survives
    * untouched. Typical documents exit at the first byte.
    */
  def nonEmptyAfterEllipses(s: UTF8String): Boolean = {
    val n = s.numBytes()
    var i = 0
    var run = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b == '.'.toByte) { run += 1; i += 1 }
      else {
        if (run % 3 != 0) return true
        run = 0
        if (b >= 0) {
          if (!isWs(b)) return true
          i += 1
        } else if (b == 0xe2.toByte && i + 2 < n &&
            s.getByte(i + 1) == 0x80.toByte &&
            s.getByte(i + 2) == 0xa6.toByte) {
          i += 3 // a deleted …
        } else {
          return true // any other non-ASCII codepoint survives
        }
      }
    }
    run % 3 != 0
  }

  /** F1 `check_word_number`'s word count (filters.py:6-15 →
    * utils.get_words). ≡ `size(regexp_extract_all(lower(c),
    * "[\p{L}\p{N}_]+", 0))` — which lowercases, runs the regex engine,
    * and materializes an ArrayData of every match just to take its
    * length. Here: count word-run STARTS in one scan. ASCII-only strings
    * (the common case) skip the lowercase entirely — ASCII class
    * membership is case-stable — and scan raw bytes; strings with any
    * non-ASCII byte take [[UTF8String.toLowerCase]] (the exact function
    * Spark's `lower()` calls, so İ → i + combining-dot etc. agree) and a
    * codepoint scan with the regex classes spelled out:
    * `\p{L}` = `Character.isLetter` (Lu Ll Lt Lm Lo), `\p{N}` = general
    * categories Nd Nl No, plus `_`.
    */
  def wordCount(s: UTF8String): Int = {
    val n = s.numBytes()
    var count = 0
    var in = false
    var ascii = true
    var i = 0
    while (ascii && i < n) {
      val b = s.getByte(i)
      if (b < 0) ascii = false
      else {
        val w = (b >= 'a'.toByte && b <= 'z'.toByte) ||
          (b >= 'A'.toByte && b <= 'Z'.toByte) ||
          (b >= '0'.toByte && b <= '9'.toByte) || b == '_'.toByte
        if (w && !in) count += 1
        in = w
        i += 1
      }
    }
    if (ascii) return count
    val t = s.toLowerCase.toString
    count = 0
    in = false
    var k = 0
    while (k < t.length) {
      val cp = t.codePointAt(k)
      val w = Character.isLetter(cp) || cp == '_' || {
        val ty = Character.getType(cp)
        ty == Character.DECIMAL_DIGIT_NUMBER ||
        ty == Character.LETTER_NUMBER || ty == Character.OTHER_NUMBER
      }
      if (w && !in) count += 1
      in = w
      k += Character.charCount(cp)
    }
    count
  }

  /** F4 `check_lowercase_ratio` (filters.py:102-113): count of ASCII
    * `[a-z]` characters over the codepoint length; empty → 0. ≡
    * `when(length(c) === 0, 0.0).otherwise(length(regexp_replace(c,
    * "[^a-z]", "")).cast(double) / length(c))` — which runs the regex
    * engine and materializes the filtered string per row just to take its
    * length. Here: one byte scan. `[a-z]` bytes never occur inside UTF-8
    * multi-byte sequences, and the codepoint count is the count of
    * non-continuation bytes, so neither quantity needs a decode. The
    * division is the same `int→double / int→double` IEEE op as the
    * composed form — scores stay hash-exact.
    */
  def lowercaseRatio(s: UTF8String): Double = {
    val n = s.numBytes()
    if (n == 0) return 0.0
    var lower = 0
    var cps = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if ((b & 0xc0) != 0x80) cps += 1 // non-continuation → starts a codepoint
      if (b >= 'a'.toByte && b <= 'z'.toByte) lower += 1
      i += 1
    }
    lower.toDouble / cps
  }

  /** r20: `size(split(s, "[^A-Za-z_0-9]", -1)) >= k` as ONE early-exit
    * byte scan — the minhash/jaccard/edit-distance trunks evaluated the
    * shingleability gate by materializing the FULL split array (one
    * UTF8String allocation per token per row) just to compare its
    * length. Java-regex `split` semantics for this single-codepoint
    * character class: every codepoint outside `[A-Za-z0-9_]` is one
    * separator match, `limit = -1` keeps trailing empties, so
    * parts = separators + 1 (empty input included: 1 part). Codepoint
    * counting on UTF-8 bytes: ASCII byte → table lookup; multi-byte
    * lead byte (incl. 4-byte supplementary — regex also matches the
    * surrogate PAIR as one codepoint) → one separator; continuation
    * bytes skipped. Early exit at `k` parts, so short-doc gates (k =
    * minNgramSize) touch only the first few bytes of long documents.
    * Differential: FusedTextSpec pins equality with the composed
    * `size(split(...)) >= k` over random unicode + the shared fuzz
    * edge corpus.
    *
    * Precondition: `s` is well-formed UTF-8 (every engine producer
    * validates on ingest). On malformed bytes the scan stays total but
    * diverges from the regex form: a stray continuation byte is skipped
    * as a non-separator, while the regex path decodes it to U+FFFD, a
    * separator (FusedTextSpec pins the malformed-input results).
    */
  def nonAlphaPartsAtLeast(s: UTF8String, k: Int): Boolean = {
    if (k <= 1) return true // ≥ 1 part always (split of "" is [""])
    var parts = 1
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      val sep =
        if (b >= 0) !((b >= 'a'.toByte && b <= 'z'.toByte) ||
          (b >= 'A'.toByte && b <= 'Z'.toByte) ||
          (b >= '0'.toByte && b <= '9'.toByte) || b == '_'.toByte)
        else (b & 0xc0) != 0x80 // lead byte of a multi-byte codepoint
      if (sep) {
        parts += 1
        if (parts >= k) return true
      }
      i += 1
    }
    false // parts < k
  }

  /** Word TOKENS of `lower(c)` — the engine-wide tokenizer behind
    * NaiveBayes/DSIR/Gopher (utils.py:304-305 `get_words`). ≡
    * `regexp_extract_all(lower(c), "[\p{L}\p{N}_]+", 0)` with the regex
    * engine replaced by the same run-scan as [[wordCount]], but emitting
    * the runs. ASCII path lowercases A–Z inside the token copy (byte
    * map); unicode path lowers through [[UTF8String.toLowerCase]] (what
    * Spark's `lower()` calls) and slices codepoint runs. Token text must
    * stay BYTE-identical to the regex form — DSIR hashes these through
    * md5 — which `FusedTextSpec` pins differentially.
    */
  def wordTokens(s: UTF8String): Array[UTF8String] = {
    val out = new java.util.ArrayList[UTF8String](16)
    if (s.isFullAscii) {
      val n = s.numBytes()
      var i = 0
      var start = -1
      while (i <= n) {
        val w = i < n && {
          val b = s.getByte(i)
          (b >= 'a'.toByte && b <= 'z'.toByte) ||
          (b >= 'A'.toByte && b <= 'Z'.toByte) ||
          (b >= '0'.toByte && b <= '9'.toByte) || b == '_'.toByte
        }
        if (w && start < 0) start = i
        else if (!w && start >= 0) {
          val tok = new Array[Byte](i - start)
          var k = 0
          while (k < tok.length) {
            val b = s.getByte(start + k)
            tok(k) =
              if (b >= 'A'.toByte && b <= 'Z'.toByte) (b + 32).toByte else b
            k += 1
          }
          out.add(UTF8String.fromBytes(tok))
          start = -1
        }
        i += 1
      }
    } else {
      val t = s.toLowerCase.toString
      var k = 0
      var start = -1
      while (k <= t.length) {
        val w = k < t.length && {
          val cp = t.codePointAt(k)
          Character.isLetter(cp) || cp == '_' || {
            val ty = Character.getType(cp)
            ty == Character.DECIMAL_DIGIT_NUMBER ||
            ty == Character.LETTER_NUMBER || ty == Character.OTHER_NUMBER
          }
        }
        if (w && start < 0) start = k
        else if (!w && start >= 0) {
          out.add(UTF8String.fromString(t.substring(start, k)))
          start = -1
        }
        if (k < t.length) k += Character.charCount(t.codePointAt(k))
        else k += 1
      }
    }
    out.toArray(new Array[UTF8String](out.size()))
  }

  /** DSIR's uni+bigram feature list (`Dsir.gramsCol` shape): the token
    * list of [[wordTokens]] followed by adjacent-pair bigrams joined with
    * `_` — ≡ `concat(toks, zip_with(slice(toks, 1, n-1), slice(toks, 2,
    * n-1), (a, b) => concat(a, "_", b)))`, whose higher-order/slice ops
    * are CodegenFallback (interpreted per row, three array
    * materializations). One kernel call, one output array.
    */
  def wordGrams(s: UTF8String): Array[UTF8String] = {
    val toks = wordTokens(s)
    val n = toks.length
    if (n < 2) return toks
    val sep = UTF8String.fromString("_")
    val out = new Array[UTF8String](2 * n - 1)
    System.arraycopy(toks, 0, out, 0, n)
    var i = 0
    while (i < n - 1) {
      out(n + i) = UTF8String.concat(toks(i), sep, toks(i + 1))
      i += 1
    }
    out
  }

  /** C4's line gate (analysis/C4Filters — Raffel et al. 2020 §2.2):
    * split on `\n`, keep lines that (a) end in `.` `!` `?` `"` (raw last
    * character, no trim — C4's rule), (b) have ≥ `minWords` whitespace
    * words, (c) don't contain "javascript" case-insensitively; re-join
    * kept lines with `\n`. ≡ `array_join(filter(split(coalesce(c, ""),
    * "\n"), keepLine), "\n")` where the per-line predicate ran a regex
    * split and an `instr(lower(l), …)` under an interpreted
    * `ArrayFilter`. One pass: the word count is a run count over
    * non-`\s` bytes (early exit at `minWords`), the terminal check reads
    * the last codepoint in place (any multi-byte final codepoint fails
    * the ASCII-only set), and the substring search is byte-wise
    * case-insensitive on fully-ASCII lines — only a non-ASCII line pays
    * the `lower()` fallback (unicode case mapping can change byte
    * length, e.g. İ → i + combining dot, so byte CI is not exact there).
    */
  def c4CleanLines(s: UTF8String, minWords: Int): UTF8String = {
    val n = s.numBytes()
    val src = s.getBytes
    val out = new Array[Byte](n)
    var w = 0
    var lineStart = 0
    var i = 0
    val js = "javascript".getBytes(java.nio.charset.StandardCharsets.UTF_8)

    @inline def asciiWordByteOk(b: Byte): Boolean =
      !(b == 0x20 || (b >= 0x09 && b <= 0x0d))

    def keepLine(start: Int, end: Int): Boolean = {
      if (start >= end) return false
      // (a) raw last codepoint ∈ { . ! ? " }
      val lb = src(end - 1)
      if (lb != '.'.toByte && lb != '!'.toByte && lb != '?'.toByte &&
          lb != '"'.toByte) return false
      // (b) ≥ minWords whitespace-separated words, early exit
      var words = 0
      var in = false
      var k = start
      var ascii = true
      while (k < end && words < minWords) {
        val b = src(k)
        if (b < 0) ascii = false
        val isWord = b < 0 || asciiWordByteOk(b)
        if (isWord && !in) words += 1
        in = isWord
        k += 1
      }
      if (words < minWords) return false
      while (k < end && ascii) { if (src(k) < 0) ascii = false; k += 1 }
      // (c) no case-insensitive "javascript"
      if (ascii) {
        var p = start
        val limit = end - js.length
        while (p <= limit) {
          var q = 0
          while (q < js.length && {
            val b = src(p + q)
            val lo = if (b >= 'A'.toByte && b <= 'Z'.toByte) b + 32 else b.toInt
            lo == js(q)
          }) q += 1
          if (q == js.length) return false
          p += 1
        }
        true
      } else {
        val line = UTF8String.fromBytes(src, start, end - start)
        !line.toLowerCase.contains(UTF8String.fromBytes(js))
      }
    }

    while (i <= n) {
      if (i == n || src(i) == '\n'.toByte) {
        if (keepLine(lineStart, i)) {
          if (w > 0) { out(w) = '\n'.toByte; w += 1 }
          System.arraycopy(src, lineStart, out, w, i - lineStart)
          w += i - lineStart
        }
        lineStart = i + 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, w)
  }

  /** [[wordGrams]] boxed for Catalyst (called from generated code). */
  def wordGramsArray(
      s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      wordGrams(s).asInstanceOf[Array[Any]])

  /** [[wordTokens]] boxed for Catalyst (called from generated code). */
  def wordTokensArray(
      s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      wordTokens(s).asInstanceOf[Array[Any]])

  /** C4 `remove_empty_lines` (cleaners.py:66-73, the INTENDED semantics —
    * the reference's always-`""` isinstance bug stays documented in
    * [[Cleaners.removeEmptyLines]]'s oracle): split on the full Python
    * `splitlines` boundary set (`\r\n` as one boundary, then `\n \x0b \x0c
    * \r \x1c \x1d \x1e U+0085 U+2028 U+2029`), drop lines matching
    * `^\s*$`, re-join with `\n`. ≡ `array_join(filter(split(c,
    * LineBoundaryRegex), l => !(l rlike "^\s*$")), "\n")` — which Spark
    * cannot codegen (`ArrayFilter` is CodegenFallback, so every row pays
    * interpreted eval, a regex split, an array, and a regex find per
    * line). Here: one byte scan, one output buffer. A line is blank iff
    * every byte is space or tab — the other Java-`\s` members are all
    * line boundaries and cannot occur inside a line. Boundary bytes:
    * `0a 0b 0c 0d 1c 1d 1e` (ASCII), `c2 85` (NEL), `e2 80 a8` / `e2 80
    * a9` (LS/PS); `0d 0a` consumes as one. Trailing-empty-segment
    * behavior (Java split limit -1 keeps it, Python splitlines doesn't)
    * is immaterial — blank segments are dropped either way.
    */
  def removeEmptyLines(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    val src = s.getBytes
    val out = new Array[Byte](n)
    var w = 0
    var i = 0
    var lineStart = 0
    var hasContent = false
    var boundaries = false

    @inline def endLine(end: Int): Unit = {
      if (hasContent) {
        if (w > 0) { out(w) = '\n'.toByte; w += 1 }
        System.arraycopy(src, lineStart, out, w, end - lineStart)
        w += end - lineStart
      }
      hasContent = false
    }

    while (i < n) {
      val b = src(i)
      val bi = b & 0xff
      if (bi == 0x0d) {
        endLine(i); boundaries = true
        i += (if (i + 1 < n && src(i + 1) == 0x0a.toByte) 2 else 1)
        lineStart = i
      } else if (bi == 0x0a || (bi >= 0x0b && bi <= 0x0c) ||
          (bi >= 0x1c && bi <= 0x1e)) {
        endLine(i); boundaries = true
        i += 1; lineStart = i
      } else if (bi == 0xc2 && i + 1 < n && src(i + 1) == 0x85.toByte) {
        endLine(i); boundaries = true
        i += 2; lineStart = i
      } else if (bi == 0xe2 && i + 2 < n && src(i + 1) == 0x80.toByte &&
          (src(i + 2) == 0xa8.toByte || src(i + 2) == 0xa9.toByte)) {
        endLine(i); boundaries = true
        i += 3; lineStart = i
      } else {
        if (bi != 0x20 && bi != 0x09) hasContent = true
        i += 1
      }
    }
    if (!boundaries && hasContent) return s // single non-blank line
    endLine(n)
    UTF8String.fromBytes(out, 0, w)
  }

  /** C5 `clean_new_lines` (cleaners.py:76-79): strip, then delete every
    * `\n`. ≡ `replace(stripWs(c), "\n", "")` in one pass: trim bounds by
    * byte scan, count interior newlines, and only when some exist copy
    * once, skipping them (`\n` is ASCII, never part of a multi-byte
    * sequence). No interior newline → at most a zero-copy slice.
    */
  def cleanNewLines(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    while (i < n && isWs(s.getByte(i))) i += 1
    var j = n
    while (j > i && isWs(s.getByte(j - 1))) j -= 1
    var nl = 0
    var k = i
    while (k < j) {
      if (s.getByte(k) == '\n'.toByte) nl += 1
      k += 1
    }
    if (nl == 0) {
      if (i == 0 && j == n) s
      else UTF8String.fromBytes(s.getBytes, i, j - i)
    } else {
      val src = s.getBytes
      val out = new Array[Byte](j - i - nl)
      var w = 0
      k = i
      while (k < j) {
        val b = src(k)
        if (b != '\n'.toByte) { out(w) = b; w += 1 }
        k += 1
      }
      UTF8String.fromBytes(out)
    }
  }

  /** The six `check_gender` words (filters.py:165), as UTF-8 bytes. */
  private val GenderWords: Array[Array[Byte]] =
    WordLists.GenderedWords.map(_.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))

  /** Word id (0-5) iff the `[lo, hi)` byte slice of `s` equals a gendered
    * word after lowering, else -1. ASCII A-Z lowering only: the target set
    * is pure lowercase ASCII, and no non-ASCII codepoint lowers into it —
    * U+212A (→ 'k') is the only BMP char whose lowercase is ASCII and 'k'
    * is not a target letter; U+0130 lowers to TWO codepoints (i + U+0307).
    * Any negative (non-ASCII) byte therefore disqualifies by failing every
    * (positive) target-byte compare.
    */
  @inline private def genderWordId(s: UTF8String, lo: Int, hi: Int): Int = {
    val len = hi - lo
    if (len < 2 || len > 4) return -1
    var w = 0
    while (w < GenderWords.length) {
      val word = GenderWords(w)
      if (word.length == len) {
        var i = 0
        var ok = true
        while (ok && i < len) {
          var b = s.getByte(lo + i)
          if (b >= 'A'.toByte && b <= 'Z'.toByte) b = (b + 32).toByte
          if (b != word(i)) ok = false
          i += 1
        }
        if (ok) return w
      }
      w += 1
    }
    -1
  }

  /** First byte offset of `needle` in `s` at or after `from`, else -1
    * (naive scan — the needle is the ~19-byte splitter token).
    */
  private def findBytes(s: UTF8String, from: Int, needle: UTF8String): Int = {
    val n = s.numBytes()
    val m = needle.numBytes()
    var i = from
    val limit = n - m
    while (i <= limit) {
      var j = 0
      while (j < m && s.getByte(i + j) == needle.getByte(j)) j += 1
      if (j == m) return i
      i += 1
    }
    -1
  }

  /** F8 `check_gender` (filters.py:159-175) fused: split on the FIRST
    * splitter occurrence (the second half ends at the next occurrence,
    * mirroring `element_at(split(c, quote(tok)), 2)`), then walk both
    * halves' whitespace tokens in lockstep — true iff some position holds
    * two DIFFERENT gendered words, stopping at the shorter half. One byte
    * scan, zero allocation, vs the composed form's split + lower + two
    * `\s+` array splits + filter + slice + zip_with (the slowest scalar
    * op in the r19 throughput table at 0.36M rows/s; this kernel removes
    * all of its per-row garbage). Returns -1 when the splitter is absent
    * (→ NULL: the composed form cannot evaluate that row at all —
    * `element_at` index 2 on a 1-element array is an ANSI error — and no
    * suite consumer constructs splitter-less docs; `FusedTextSpec` pins
    * the choice), 0 for false, 1 for true.
    */
  def genderConflict(s: UTF8String, splitter: UTF8String): Int = {
    val cut = findBytes(s, 0, splitter)
    if (cut < 0) return -1
    val m = splitter.numBytes()
    val aHi = cut
    val bLo = cut + m
    val next = findBytes(s, bLo, splitter)
    val bHi = if (next < 0) s.numBytes() else next
    var ia = 0
    var ib = bLo
    while (true) {
      while (ia < aHi && isWs(s.getByte(ia))) ia += 1
      while (ib < bHi && isWs(s.getByte(ib))) ib += 1
      if (ia >= aHi || ib >= bHi) return 0 // shorter half exhausted
      val sa = ia
      while (ia < aHi && !isWs(s.getByte(ia))) ia += 1
      val sb = ib
      while (ib < bHi && !isWs(s.getByte(ib))) ib += 1
      val wa = genderWordId(s, sa, ia)
      if (wa >= 0) {
        val wb = genderWordId(s, sb, ib)
        if (wb >= 0 && wa != wb) return 1
      }
    }
    0 // unreachable
  }
}

private[text] trait StringInputExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"requires string, got ${child.dataType}")
}

/** Early-exit shingleability gate — see
  * [[GraftTextKernels.nonAlphaPartsAtLeast]].
  */
case class NonAlphaPartsAtLeastExpr(child: Expression, k: Int)
    extends StringInputExpr {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any =
    GraftTextKernels.nonAlphaPartsAtLeast(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.text.GraftTextKernels.nonAlphaPartsAtLeast($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `check_completion` keep column — see [[GraftTextKernels.isCompleted]]. */
case class CheckCompletionExpr(child: Expression) extends StringInputExpr {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any =
    GraftTextKernels.isCompleted(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.GraftTextKernels.isCompleted($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `check_empty` keep column — see
  * [[GraftTextKernels.nonEmptyAfterEllipses]].
  */
case class CheckEmptyExpr(child: Expression) extends StringInputExpr {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any =
    GraftTextKernels.nonEmptyAfterEllipses(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.text.GraftTextKernels.nonEmptyAfterEllipses($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `check_lowercase_ratio`'s score — see
  * [[GraftTextKernels.lowercaseRatio]].
  */
case class LowercaseRatioExpr(child: Expression) extends StringInputExpr {
  override def dataType: DataType =
    org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(v: Any): Any =
    GraftTextKernels.lowercaseRatio(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.text.GraftTextKernels.lowercaseRatio($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** F5 `check_char_repetition`'s score (filters.py:116-128 +
  * utils.py:310-339) as a codegen expression instead of a ScalaUDF — the
  * kernel ([[CharRepetition.ratio]]) is unchanged; what changes is staying
  * inside WholeStageCodegen: no encoder boxing, no UDF closure dispatch.
  * Null handling: the UDF mapped null → "" → 0.0; callers wrap this in
  * `coalesce(…, 0.0)` to preserve that exactly.
  */
case class CharRepetitionExpr(child: Expression, n: Int)
    extends StringInputExpr {
  override def dataType: DataType =
    org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(v: Any): Any =
    CharRepetition.ratio(v.asInstanceOf[UTF8String].toString, n)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.text.CharRepetition.ratio($c.toString(), $n)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The engine tokenizer's token array — see
  * [[GraftTextKernels.wordTokens]].
  */
case class WordTokensExpr(child: Expression) extends StringInputExpr {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = true)
  override def nullSafeEval(v: Any): Any =
    GraftTextKernels.wordTokensArray(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.text.GraftTextKernels.wordTokensArray($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** DSIR uni+bigram list — see [[GraftTextKernels.wordGrams]]. */
case class WordGramsExpr(child: Expression) extends StringInputExpr {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = true)
  override def nullSafeEval(v: Any): Any =
    GraftTextKernels.wordGramsArray(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.text.GraftTextKernels.wordGramsArray($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** C4's retained text — see [[GraftTextKernels.c4CleanLines]]. */
case class C4CleanLinesExpr(child: Expression, minWords: Int)
    extends StringInputExpr {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    GraftTextKernels.c4CleanLines(v.asInstanceOf[UTF8String], minWords)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.text.GraftTextKernels.c4CleanLines($c, $minWords)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `check_word_number`'s count — see [[GraftTextKernels.wordCount]]. */
case class WordCountExpr(child: Expression) extends StringInputExpr {
  override def dataType: DataType =
    org.apache.spark.sql.types.IntegerType
  override def nullSafeEval(v: Any): Any =
    GraftTextKernels.wordCount(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.GraftTextKernels.wordCount($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `remove_empty_lines` — see [[GraftTextKernels.removeEmptyLines]]. */
case class RemoveEmptyLinesExpr(child: Expression) extends StringInputExpr {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    GraftTextKernels.removeEmptyLines(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.text.GraftTextKernels.removeEmptyLines($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `clean_new_lines` — see [[GraftTextKernels.cleanNewLines]]. */
case class CleanNewLinesExpr(child: Expression) extends StringInputExpr {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    GraftTextKernels.cleanNewLines(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.text.GraftTextKernels.cleanNewLines($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `check_gender` — see [[GraftTextKernels.genderConflict]]. NULL when the
  * splitter token is absent (the composed form cannot evaluate that row:
  * `element_at` index 2 of a 1-element array is an ANSI error).
  */
case class GenderConflictExpr(child: Expression, splitter: String)
    extends StringInputExpr {
  require(splitter.nonEmpty, "check_gender splitter must be non-empty")
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  @transient private lazy val splitU8: UTF8String =
    UTF8String.fromString(splitter)
  override def nullSafeEval(v: Any): Any = {
    val r = GraftTextKernels.genderConflict(v.asInstanceOf[UTF8String],
      splitU8)
    if (r < 0) null else java.lang.Boolean.valueOf(r == 1)
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val sp = ctx.addReferenceObj("gsplit", splitU8,
      "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("gconf")
      s"""
        int $r = graft.text.GraftTextKernels.genderConflict($c, $sp);
        ${ev.isNull} = ($r < 0);
        ${ev.value} = ($r == 1);
      """
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object FusedText {
  import org.apache.spark.sql.GraftBridge.{column, expression}
  def checkCompletion(c: Column): Column =
    column(CheckCompletionExpr(expression(c)))
  def checkEmpty(c: Column): Column = column(CheckEmptyExpr(expression(c)))
  def removeEmptyLines(c: Column): Column =
    column(RemoveEmptyLinesExpr(expression(c)))
  def wordCount(c: Column): Column = column(WordCountExpr(expression(c)))
  def wordTokens(c: Column): Column = column(WordTokensExpr(expression(c)))
  def wordGrams(c: Column): Column = column(WordGramsExpr(expression(c)))
  // coalesce mirrors the composed form's null → "" (the kernel itself is
  // null-propagating like every UnaryExpression)
  def c4CleanLines(c: Column, minWords: Int): Column =
    column(C4CleanLinesExpr(org.apache.spark.sql.GraftBridge.expression(
      org.apache.spark.sql.functions.coalesce(c,
        org.apache.spark.sql.functions.lit(""))), minWords))
  def lowercaseRatio(c: Column): Column =
    column(LowercaseRatioExpr(expression(c)))
  def checkGender(c: Column, splitter: String): Column =
    column(GenderConflictExpr(expression(c), splitter))
  def charRepetitionRatio(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.coalesce(
      column(CharRepetitionExpr(expression(c), n)),
      org.apache.spark.sql.functions.lit(0.0))
  def cleanNewLines(c: Column): Column =
    column(CleanNewLinesExpr(expression(c)))
  /** ≡ `size(split(c, "[^A-Za-z_0-9]", -1)) >= k`, one early-exit byte
    * scan (null-propagating like the composed form — callers coalesce).
    */
  def nonAlphaPartsAtLeast(c: Column, k: Int): Column =
    column(NonAlphaPartsAtLeastExpr(expression(c), k))
}
