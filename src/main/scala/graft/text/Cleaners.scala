package graft.text

import java.nio.charset.{Charset, CodingErrorAction}
import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar string cleaners — projection surface of the reference
  * (`chat_data_pipeline/cleaners.py`). Each cleaner is a pure
  * `Column => Column` so Catalyst can fold, prune, and codegen them; only
  * `fix_utf8_encoding` needs a UDF (no JVM ftfy — documented subset).
  */
object Cleaners {

  /** Exact codepoint set of `cleaners.py:13` (0x20 maps to itself; the set's
    * visually-empty member is U+0084). 1:1 char map → `translate`.
    */
  val WhitespaceChars: String =
    "        　￼"

  /** `normalize_whitespace` — cleaners.py:16-19. CharMap expression: the
    * table is non-ASCII, where builtin `translate` leaves the fast path.
    */
  val normalizeWhitespace: Column => Column =
    c => CharMap(c, WhitespaceChars.map(_ -> " "))

  /** 1:1 entries of `unicode_punctuation` (cleaners.py:22-57). */
  val PunctOneToOne: Seq[(Char, Char)] = Seq(
    '，' -> ',', '。' -> '.', '、' -> ',', '„' -> '"',
    '”' -> '"', '“' -> '"', '«' -> '"', '»' -> '"',
    '１' -> '"', '」' -> '"', '「' -> '"', '《' -> '"',
    '》' -> '"', '´' -> '\'', '∶' -> ':', '：' -> ':',
    '？' -> '?', '！' -> '!', '（' -> '(', '）' -> ')',
    '；' -> ';', '–' -> '-', '～' -> '~', '’' -> '\'',
    '━' -> '-', '〈' -> '<', '〉' -> '>', '【' -> '[',
    '】' -> ']', '％' -> '%', '►' -> '-'
  )

  /** 1:many entries (em-dash, fullwidth stop, ellipsis — cleaners.py:45,46,49).
    * Sources are disjoint from `PunctOneToOne` keys and targets are plain
    * ASCII, so application order does not matter.
    */
  val PunctOneToMany: Seq[(String, String)] =
    Seq("—" -> " - ", "．" -> ". ", "…" -> "...")

  /** `normalize_punctuation` — cleaners.py:60-63: ONE per-char map pass
    * covering both the 1→1 and 1→many entries, exactly like the
    * reference's dict comprehension.
    */
  val normalizePunctuation: Column => Column = c =>
    CharMap(c, PunctOneToOne.map { case (k, v) => k -> v.toString } ++
      PunctOneToMany.map { case (k, v) => k.charAt(0) -> v })

  /** Python-`splitlines` boundary regex (Java flavor): \r\n as ONE
    * boundary, then each single-char boundary of str.splitlines —
    * \n \v \f \r \x1c \x1d \x1e \x85 U+2028 U+2029. The DuckDB mirror is
    * [[graft.OracleSql.SplitlinesRegexSql]] — keep in lock-step.
    */
  val LineBoundaryRegex: String =
    "\r\n|[\n\u000B\f\r\u001C-\u001E\u0085\u2028\u2029]"

  /** `remove_empty_lines` — cleaners.py:66-73, implementing the INTENDED
    * semantics: drop lines matching `^\s*$`, re-join with \n. The reference
    * has an inverted isinstance check (cleaners.py:71-72) that makes it
    * always return "" — we implement the intent and pin the divergence in
    * tests. Line boundaries: the full Python `splitlines` set. Blank-line
    * detection is ASCII `\s` = [ \t\n\x0b\f\r] — NOTE the bundled-DuckDB
    * RE2 `\s` does NOT match \x0b, so the oracle mirror spells the class
    * out ([[graft.OracleSql.WsClass]]); Python `str.strip` additionally
    * treats U+00A0 etc. as blank — documented divergence. Runs as the
    * fused one-scan kernel [[GraftTextKernels.removeEmptyLines]] (was
    * `array_join(filter(split(...)), "\n")`, whose `ArrayFilter` is
    * CodegenFallback — interpreted regex-per-line, the slowest op in the
    * whole table before fusing).
    */
  val removeEmptyLines: Column => Column = c => FusedText.removeEmptyLines(c)

  /** `clean_new_lines` — cleaners.py:76-79: strip, then delete all \n.
    * Python `strip()` removes all whitespace (not just spaces like SQL
    * `trim`), hence the custom edge trim; fused with the newline removal
    * into one scan ([[GraftTextKernels.cleanNewLines]] — was
    * `replace(stripWs(c), "\n", "")`, two allocations per row).
    */
  val cleanNewLines: Column => Column = c => FusedText.cleanNewLines(c)

  /** Python-`strip()`-alike: trim ASCII whitespace from both ends —
    * codegen'd byte-scan expression, ≡ `regexp_replace(c,"^\\s+|\\s+$","")`.
    */
  def stripWs(c: Column): Column = StripWs(c)

  /** `fix_utf8_encoding` — cleaners.py:5-8. ftfy has no JVM port; this is
    * a JVM re-implementation of every ftfy-6 `fix_text` DEFAULT step, in
    * ftfy's pipeline order: HTML entity unescape (auto heuristic) →
    * terminal-escape removal → sloppy-cp1252/latin-1↔utf-8 mojibake
    * repair (ftfy's core heuristic, up to 3 passes; sloppy = cp1252 plus
    * the five C1 holes since r8; within each pass: whole-string
    * round-trip incl. restore_byte_a0's space→NBSP, then
    * replace_lossy_sequences, then decode_inconsistent_utf8 span repair)
    * → C1-control reinterpretation → latin ligatures → fullwidth
    * folding → quote uncurling → line-break unification → lone-surrogate
    * replacement → control-char removal → NFC + null → "". All named
    * pipeline steps are implemented; ftfy's corpus-trained `badness`
    * scoring is replaced by a static common-script plausibility gate on
    * the byte-rewriting paths (restore_byte_a0, span decode), so the
    * residual divergence is heuristic weight: ftfy may accept repairs
    * into rare blocks (IPA, musical symbols) that this declines, and may
    * decline whole-string round-trips this accepts on pathological
    * short strings.
    */
  val fixUtf8Encoding: Column => Column = { c =>
    val u = udf { (s: String) => FtfyLite.fix(s) }
    u(c)
  }

  /** Registry by reference name (utils.py:23-33 getattr resolution). */
  val registry: Map[String, Column => Column] = Map(
    "fix_utf8_encoding" -> fixUtf8Encoding,
    "normalize_whitespace" -> normalizeWhitespace,
    "normalize_punctuation" -> normalizePunctuation,
    "remove_empty_lines" -> removeEmptyLines,
    "clean_new_lines" -> cleanNewLines
  )
}

/** ftfy-subset (ftfy 6 `fix_text` defaults, JVM re-implementation of the
  * steps that matter for chat corpora), applied in ftfy's pipeline order.
  * Pure JVM, deterministic, executor-side singleton.
  */
object FtfyLite extends Serializable {
  private val cp1252 = Charset.forName("windows-1252")
  private val latin1 = Charset.forName("ISO-8859-1")

  /** Re-encode through `cs`; any unmappable char aborts the attempt. */
  private def encodeVia(s: String, cs: Charset): Option[Array[Byte]] = {
    val enc = cs.newEncoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try {
      val bb = enc.encode(java.nio.CharBuffer.wrap(s))
      val out = new Array[Byte](bb.remaining()); bb.get(out); Some(out)
    } catch { case _: Exception => None }
  }

  private def utf8Strict(bytes: java.nio.ByteBuffer): Option[String] = {
    val dec = Charset.forName("UTF-8").newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try Some(dec.decode(bytes).toString)
    catch { case _: Exception => None }
  }

  /** ftfy's `sloppy-windows-1252` encode table: every cp1252-mappable
    * char to its cp1252 byte, PLUS the five cp1252 holes (U+0081 U+008D
    * U+008F U+0090 U+009D) to their own low byte — a sloppy decoder maps
    * those bytes straight to C1 codepoints, so its mojibake mixes
    * cp1252-mapped chars and hole controls in ONE string (e.g. a thumbs-up
    * emoji, F0 9F 91 8D, displays as "ðŸ‘" + U+008D).
    * Strict cp1252 cannot encode the hole char and latin-1 cannot encode
    * the cp1252-only chars, so only this table reverses it (VERDICT r7 #3).
    */
  private val SloppyCp1252Enc: Map[Char, Byte] = {
    val mapped = (0 to 255).flatMap { b =>
      val ch = new String(Array(b.toByte), cp1252)
      if (ch.charAt(0) != '�') Some(ch.charAt(0) -> b.toByte) else None
    }
    val holes = ""
      .map(c => c -> (c & 0xff).toByte)
    (mapped ++ holes).toMap
  }

  private def sloppyEncode(s: String): Option[Array[Byte]] = {
    val bytes = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      SloppyCp1252Enc.get(s.charAt(i)) match {
        case Some(b) => bytes(i) = b
        case None => return None
      }
      i += 1
    }
    Some(bytes)
  }

  /** ftfy `restore_byte_a0` (ALTERED_UTF8_RE): a 0x20 byte standing where
    * exactly one UTF-8 continuation byte belongs is almost always an NBSP
    * (0xA0) that some earlier "cleanup" squashed to a plain space, which
    * breaks the mojibake round-trip ("\u00c3 la carte" should have been
    * "\u00c3\u00a0" = "\u00e0"). Restore it and let the strict decode plus the
    * plausibility gate judge (the gate is what stops "\u00e0 \u20ac"
    * from becoming Samaritan U+0800). 2-byte leads are C2/C3 only, a
    * deliberate subset of ftfy's ALTERED set {C2 C3 C5 CE D0 D1} \u2014
    * see the inline note; 3/4-byte groups allow ONE space among otherwise-valid continuations.
    * Returns None when nothing matched.
    */
  private def restoreByteA0(bs: Array[Byte]): Option[Array[Byte]] = {
    def u(k: Int) = bs(k) & 0xff
    def isCont(k: Int) = (u(k) & 0xc0) == 0x80
    def isSp(k: Int) = u(k) == 0x20
    var out: Array[Byte] = null
    var i = 0
    while (i < bs.length) {
      val b = u(i)
      var m = 0 // continuation-slot count of a match at i
      // 2-byte leads: ONLY C2/C3 ("Â "/"Ã ") — ftfy's ALTERED set also
      // has C5/CE/D0/D1, but "Å ", "Î ", "Ð ", "Ñ " are overwhelmingly
      // LEGITIMATE text (Nordic/Greek-named/Icelandic/Spanish words
      // before a space) that ftfy refuses via its badness data; with no
      // corpus-trained badness table the static refusal is safer.
      if ((b == 0xc2 || b == 0xc3) && i + 1 < bs.length && isSp(i + 1))
        m = 1
      else if (b >= 0xe0 && b <= 0xef && i + 2 < bs.length &&
        ((isSp(i + 1) && isCont(i + 2)) || (isCont(i + 1) && isSp(i + 2))))
        m = 2
      else if (b >= 0xf0 && b <= 0xf4 && i + 3 < bs.length) {
        val slots = Seq(i + 1, i + 2, i + 3)
        if (slots.count(isSp) == 1 && slots.count(isCont) == 2) m = 3
      }
      if (m > 0) {
        if (out == null) out = bs.clone()
        (1 to m).foreach(k => if (isSp(i + k)) out(i + k) = 0xa0.toByte)
        i += m + 1
      } else i += 1
    }
    Option(out)
  }

  private def tryRepair(s: String): Option[String] = {
    // Only attempt when the string contains the telltale high-latin lead
    // bytes of UTF-8 seen through a 1-byte codec. Sloppy cp1252 first --
    // a strict superset of a plain-cp1252 round-trip (identical bytes for
    // every strict-encodable string), additionally repairing texts that
    // mix cp1252-only chars and hole controls in ONE string (ftfy's
    // sloppy-windows-1252, the last named C1 gap, VERDICT r7 #3) --
    // then latin-1, which covers mojibake carrying the OTHER raw C1
    // codepoints that cp1252 maps away ("\u00c3\u0081ngel" ->
    // "\u00c1ngel"; latin-1 bytes == codepoints). Each codec attempt
    // retries once with restore_byte_a0 if the plain decode fails; the
    // retry REWRITES bytes (it accepts strings the strict round-trip
    // rejects), so unlike the plain path its output must also pass the
    // plausibility gate ("vendu \u00e0 \u20ac50" restores to Samaritan
    // U+0800 -- refused). Caller guarantees a lead-class char exists.
    def attempt(enc: Option[Array[Byte]]): Option[String] = enc.flatMap {
      bytes =>
        val plain =
          utf8Strict(java.nio.ByteBuffer.wrap(bytes)).filter(_ != s)
        if (plain.isDefined) plain
        else restoreByteA0(bytes).flatMap { rb =>
          utf8Strict(java.nio.ByteBuffer.wrap(rb))
            .filter(r => r != s && plausibleDecode(r))
        }
    }
    attempt(sloppyEncode(s)).orElse(attempt(encodeVia(s, latin1)))
  }

  // --- partial-mojibake machinery (ftfy decode_inconsistent_utf8 /
  // replace_lossy_sequences): classify chars by the UTF-8 role of their
  // sloppy-cp1252 byte ---
  private def leadClass(c: Char): Int = SloppyCp1252Enc.get(c) match {
    case Some(b) =>
      val u = b & 0xff
      if (u >= 0xc2 && u <= 0xdf) 2
      else if (u >= 0xe0 && u <= 0xef) 3
      else if (u >= 0xf0 && u <= 0xf4) 4
      else 0
    case None => 0
  }
  private def isContChar(c: Char): Boolean =
    SloppyCp1252Enc.get(c).exists(b => (b & 0xc0) == 0x80)
  private def isDamage(c: Char): Boolean = c == '\u001A' || c == '\uFFFD'

  /** Stand-in for ftfy's corpus-trained `badness` gate, applied to every
    * repair path that REWRITES bytes or decodes inside mixed text (the
    * restore_byte_a0 retry and per-group span decode -- NOT the plain
    * whole-string round-trip, whose all-chars-1-byte-encodable +
    * strict-decode structure is its own strong signal and whose pre-r8
    * acceptance is oracle-pinned). A false span match decodes into
    * blocks real prose essentially never sits in -- IPA ("\u00c9\u201d"
    * -> U+0254), Hebrew accents ("\u00d6\u2013" -> U+0596), archaic
    * Cyrillic ("\u00d1 " -> U+0460), Samaritan ("\u00e0 \u20ac" ->
    * U+0800) -- while genuine mojibake decodes into the scripts people
    * actually type. Accept a repair only when every decoded codepoint
    * lands in a common-script block. Trade-off vs ftfy: repairs into
    * rare blocks (IPA notation, musical symbols) are declined where
    * ftfy's trained weights might accept them; with no badness table the
    * static refusal is the safe side for a training-data cleaner.
    */
  private def plausibleChar(cp: Int): Boolean =
    cp < 0x250 ||                      // ASCII, Latin-1, Latin Ext-A/B
      (cp >= 0x2b0 && cp < 0x460) ||   // modifiers, combining marks,
                                       //   Greek, modern Cyrillic
      (cp >= 0x490 && cp < 0x590) ||   // Cyrillic ext, Armenian
      (cp >= 0x5d0 && cp < 0x5f5) ||   // Hebrew letters (not accents)
      (cp >= 0x600 && cp < 0x700) ||   // Arabic
      (cp >= 0x900 && cp < 0x980) ||   // Devanagari
      (cp >= 0xe00 && cp < 0xe80) ||   // Thai
      (cp >= 0x1e00 && cp < 0x1f00) || // Latin Ext Additional
      (cp >= 0x2000 && cp < 0x2400) || // punct, currency, letterlike,
                                       //   arrows, math
      (cp >= 0x2500 && cp < 0x27c0) || // box/geometric, misc, dingbats
      (cp >= 0x3000 && cp < 0x3100) || // CJK punctuation, kana
      (cp >= 0x4e00 && cp < 0xa000) || // CJK unified
      (cp >= 0xac00 && cp < 0xd7a4) || // Hangul
      (cp >= 0xfe00 && cp < 0xfe10) || // variation selectors
      (cp >= 0xff00 && cp < 0xfff0) || // full/halfwidth forms
      (cp >= 0x1f000 && cp < 0x1fb00)  // emoji & symbols

  private def plausibleDecode(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!plausibleChar(cp)) return false
      i += Character.charCount(cp)
    }
    true
  }

  /** ftfy `decode_inconsistent_utf8`: when the WHOLE string is not
    * mojibake (tryRepair failed \u2014 e.g. a real emoji or Hebrew coexists
    * with a mojibake span), decode just the groups that look like UTF-8
    * seen through sloppy-cp1252: a lead-char + the right number of
    * continuation-class chars. Each group re-encodes through the sloppy
    * table, must strict-decode as UTF-8 (overlong/surrogate encodings
    * fail and are left alone), and must pass the plausibility gate
    * (ftfy's badness refusal: "\u00c9\u201d" in curly-quoted prose decodes
    * to IPA U+0254 \u2014 left alone). Groups decode INDIVIDUALLY, as
    * ftfy's per-match substitution does \u2014 an undecodable group does not
    * block a valid neighbor ("\u00c3\u00af" + overlong still yields "\u00ef").
    * "na\u00c3\u00afve \ud83d\ude00" -> "na\u00efve \ud83d\ude00".
    */
  private def decodeInconsistentUtf8(s: String): String = {
    def groupLen(i: Int): Int = {
      val n = leadClass(s.charAt(i))
      if (n > 0 && i + n <= s.length &&
        (1 until n).forall(k => isContChar(s.charAt(i + k)))) n else 0
    }
    var out: java.lang.StringBuilder = null
    var last = 0
    var i = 0
    while (i < s.length) {
      val n = groupLen(i)
      if (n > 0) {
        sloppyEncode(s.substring(i, i + n)).flatMap(b =>
          utf8Strict(java.nio.ByteBuffer.wrap(b))) match {
          case Some(dec) if plausibleDecode(dec) =>
            if (out == null) out = new java.lang.StringBuilder
            out.append(s, last, i).append(dec)
            last = i + n
          case _ => ()
        }
        i += n
      } else i += 1
    }
    if (out == null) s
    else { out.append(s, last, s.length); out.toString }
  }

  /** ftfy `replace_lossy_sequences`: a would-be UTF-8 group whose
    * continuation chars were destroyed by a lossy step (U+FFFD from a
    * replacing decoder, U+001A from cp437-ish tooling) can never be
    * repaired \u2014 collapse the WHOLE group to one U+FFFD instead of leaving
    * half-mojibake ("\u00e2\ufffd\u2122" -> "\ufffd", not "\u00e2\ufffd\u2122"). Trail slots
    * must be continuation-class or damage, with at least one damage char.
    */
  private def replaceLossySequences(s: String): String = {
    var out: java.lang.StringBuilder = null
    var last = 0
    var i = 0
    while (i < s.length) {
      val n = leadClass(s.charAt(i))
      val ok = n > 0 && i + n <= s.length && {
        val trail = (1 until n).map(k => s.charAt(i + k))
        trail.forall(c => isContChar(c) || isDamage(c)) &&
          trail.exists(isDamage)
      }
      if (ok) {
        if (out == null) out = new java.lang.StringBuilder
        out.append(s, last, i).append('\ufffd')
        last = i + n
        i += n
      } else i += 1
    }
    if (out == null) s
    else { out.append(s, last, s.length); out.toString }
  }

  /** ftfy `unescape_html="auto"`: only when the text has entity-looking
    * `&...;` runs and no raw markup `<` (then it is actual HTML whose
    * entities are intentional). Named basics + numeric forms.
    */
  private val NamedEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“",
    "rdquo" -> "”", "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "deg" -> "°", "middot" -> "·", "laquo" -> "«", "raquo" -> "»")
  private val EntityRe =
    java.util.regex.Pattern.compile("&(#x?[0-9a-fA-F]+|[a-zA-Z]+);")

  private def unescapeHtml(s: String): String = {
    if (s.indexOf('&') < 0 || s.indexOf('<') >= 0) return s
    val m = EntityRe.matcher(s)
    val sb = new java.lang.StringBuffer
    while (m.find()) {
      val body = m.group(1)
      val rep =
        if (body.startsWith("#x") || body.startsWith("#X"))
          try new String(Character.toChars(Integer.parseInt(body.drop(2), 16)))
          catch { case _: Exception => m.group(0) }
        else if (body.startsWith("#"))
          try new String(Character.toChars(Integer.parseInt(body.drop(1))))
          catch { case _: Exception => m.group(0) }
        else NamedEntities.getOrElse(body, m.group(0))
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(rep))
    }
    m.appendTail(sb)
    sb.toString
  }

  private val TerminalEscapeRe =
    java.util.regex.Pattern.compile("\\u001B\\[[0-9;?]*[a-zA-Z]")

  /** ftfy `fix_c1_controls`: stray C1 codepoints (U+0080-U+009F) are
    * almost always cp1252 bytes read as latin-1 — reinterpret the mapped
    * ones (\x85→…, \x91→', \x93→" …); the five cp1252 holes stay.
    */
  private def fixC1Controls(s: String): String = {
    if (!s.exists(c => c >= '\u0080' && c <= '\u009F')) return s
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach { c =>
      if (c >= '\u0080' && c <= '\u009F') {
        val decoded = new String(Array((c & 0xff).toByte), cp1252)
        sb.append(if (decoded.charAt(0) == '�') c else decoded.charAt(0))
      } else sb.append(c)
    }
    sb.toString
  }

  private val Ligatures = Map(
    'Ĳ' -> "IJ", 'ĳ' -> "ij", 'ﬀ' -> "ff", 'ﬁ' -> "fi", 'ﬂ' -> "fl",
    'ﬃ' -> "ffi", 'ﬄ' -> "ffl", 'ﬅ' -> "st", 'ﬆ' -> "st")

  private val CurlyQuotes = Map(
    '‘' -> '\'', '’' -> '\'', '“' -> '"', '”' -> '"')

  private def mapChars(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach { c =>
      Ligatures.get(c) match {
        case Some(r) => sb.append(r)
        case None =>
          CurlyQuotes.get(c) match {
            case Some(q) => sb.append(q)
            // fullwidth forms → ASCII; ideographic space → space
            case None if c >= '！' && c <= '～' =>
              sb.append((c - 0xfee0).toChar)
            case None if c == '　' => sb.append(' ')
            case None => sb.append(c)
          }
      }
    }
    sb.toString
  }

  /** \r\n, \r, NEL, LS, PS → \n (ftfy `fix_line_breaks`). */
  private def fixLineBreaks(s: String): String =
    s.replace("\r\n", "\n").map {
      case '\r' | '\u0085' | '\u2028' | '\u2029' => '\n'
      case c => c
    }

  private def fixSurrogatesAndControls(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c)) {
        if (i + 1 < s.length && Character.isLowSurrogate(s.charAt(i + 1))) {
          sb.append(c).append(s.charAt(i + 1)); i += 1
        } else sb.append('�') // lone high surrogate
      } else if (Character.isLowSurrogate(c)) sb.append('�')
      else if (c < ' ' && c != '\t' && c != '\n' && c != '\f' && c != '\r') ()
      else if (c == '\u007F') () // DEL is Cc too
      else sb.append(c)
      i += 1
    }
    sb.toString
  }

  def fix(s: String): String = {
    if (s == null) return ""
    var cur = unescapeHtml(s)
    cur = TerminalEscapeRe.matcher(cur).replaceAll("")
    var i = 0
    // ftfy also iterates: doubly-encoded text needs several passes. Per
    // pass, in ftfy's _fix_encoding_one_step order: whole-string codec
    // round-trip (incl. restore_byte_a0) first; if the whole string is
    // not mojibake, collapse lossily-damaged groups; then decode
    // UTF-8-looking SPANS inside otherwise-sound text.
    while (i < 3) {
      // All three repair steps can only act on a char whose sloppy byte
      // is a UTF-8 lead (C2-F4 <=> chars U+00C2-U+00F4 under both codec
      // tables), so ONE cheap scan here skips every scanner for the
      // clean rows that dominate a real corpus.
      if (!cur.exists(ch => ch >= 'Â' && ch <= 'ô')) i = 3
      else tryRepair(cur) match {
        case Some(next) => cur = next; i += 1
        case None =>
          val lossy = replaceLossySequences(cur)
          if (lossy != cur) { cur = lossy; i += 1 }
          else {
            val spans = decodeInconsistentUtf8(cur)
            if (spans != cur) { cur = spans; i += 1 } else i = 3
          }
      }
    }
    cur = fixC1Controls(cur)
    cur = mapChars(cur)
    cur = fixLineBreaks(cur)
    cur = fixSurrogatesAndControls(cur)
    Normalizer.normalize(cur, Normalizer.Form.NFC)
  }
}
