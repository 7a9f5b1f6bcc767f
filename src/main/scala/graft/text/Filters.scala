package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** A reference filter (filters.py) in its dual contract (pipeline.py:52-67):
  * `score` is the dry-run criteria column, `keep` the boolean predicate;
  * criteria columns are named `{column}_{name}_criteria`.
  */
final case class TextFilter(
    name: String,
    score: Column => Column,
    keep: Column => Column) {
  def criteriaName(column: String): String = s"${column}_${name}_criteria"
}

/** Predicate/score surface of `chat_data_pipeline/filters.py`. Everything
  * except the procedural char-repetition ratio and the multi-substring
  * scans is a pure `Column` expression (codegen'd, pushdown-friendly).
  */
object Filters {

  /** `get_words` — utils.py:304-305. The reference's Python `\w` is
    * unicode-aware; Java/RE2 `\w` is ASCII-only, so both engines spell the
    * unicode class out: `[\p{L}\p{N}_]+` (letters, digits, underscore —
    * supported identically by Java regex and DuckDB's RE2; mirror in
    * [[graft.OracleSql.wordCount]], keep in lock-step). Remaining
    * divergence from Python: combining marks inside words (Python `\w`
    * matches Mn; both engines here break on them) — documented, rare.
    */
  val WordClassRegex: String = "[\\p{L}\\p{N}_]+"

  // fused run-count kernel ≡ size(regexp_extract_all(lower(c),
  // WordClassRegex, 0)) — see GraftTextKernels.wordCount
  def wordCount(c: Column): Column = FusedText.wordCount(c)

  /** F1 `check_word_number` — filters.py:6-15. */
  def checkWordNumber(minWords: Int = 5, maxWords: Int = 512): TextFilter =
    TextFilter("check_word_number",
      score = c => wordCount(c).cast(LongType),
      keep = c => wordCount(c).between(minWords, maxWords))

  /** F4 `check_lowercase_ratio` — filters.py:102-113. Raw text (not
    * lowercased): uppercase counts against the ratio. Empty → 0.
    */
  def checkLowercaseRatio(threshold: Double = 0.75): TextFilter = {
    def ratio(c: Column): Column = FusedText.lowercaseRatio(c)
    TextFilter("check_lowercase_ratio",
      score = ratio, keep = c => ratio(c) >= threshold)
  }

  /** F7 `check_completion` — filters.py:146-156: last char of the stripped
    * doc is terminal punctuation; empty → false. Dry-run score is int(bool).
    */
  def checkCompletion(): TextFilter = {
    def keepF(c: Column): Column = FusedText.checkCompletion(c)
    TextFilter("check_completion",
      score = c => keepF(c).cast(IntegerType), keep = keepF)
  }

  /** F9 `check_empty` — filters.py:178-185: non-empty after deleting "..."
    * and "…" and stripping.
    */
  def checkEmpty(): TextFilter = {
    def keepF(c: Column): Column = FusedText.checkEmpty(c)
    TextFilter("check_empty", score = c => keepF(c).cast(IntegerType),
      keep = keepF)
  }

  /** F6 `check_truncation` — filters.py:131-140. Split on the splitter into
    * (model_response, edited_response); keep (row WAS edited) when edited is
    * NOT a substring of the model response. Python errors unless exactly one
    * splitter occurrence; we take the first two parts.
    */
  def checkTruncation(
      splitter: String = "<|truncation_splitter|>"): TextFilter = {
    def keepF(c: Column): Column = {
      val parts = split(c, java.util.regex.Pattern.quote(splitter))
      !element_at(parts, 1).contains(element_at(parts, 2))
    }
    TextFilter("check_truncation",
      score = c => keepF(c).cast(IntegerType), keep = keepF)
  }

  /** F8 `check_gender` — filters.py:159-175: positional compare of
    * whitespace tokens of the two halves up to the shorter length; true iff
    * some position has two DIFFERENT gendered words. Python `.split()`
    * drops empty tokens (leading/trailing whitespace), so empties are
    * skipped; comparison stops at the shorter half (the reference loop's
    * `min_length`). r19: fused one-scan kernel
    * ([[GraftTextKernels.genderConflict]]) — the composed zip_with form
    * lives on as `FusedTextSpec`'s differential reference (it was the
    * slowest scalar op in the r19 throughput table, 0.36M rows/s from its
    * per-row split/lower/array garbage).
    */
  def checkGender(splitter: String = "<|gender_splitter|>"): TextFilter = {
    def keepF(c: Column): Column = FusedText.checkGender(c, splitter)
    TextFilter("check_gender",
      score = c => keepF(c).cast(IntegerType), keep = keepF)
  }

  // ---- multi-substring filters: one shared Aho–Corasick pass per row,
  // as codegen'd Catalyst expressions (MultiMatchExpr) — they stay inside
  // WholeStageCodegen, unlike ScalaUDFs ----

  /** F3 `check_nsfw_words` — filters.py:83-99: Σ per-needle non-overlapping
    * substring counts ÷ word count (0 if no words); keep when ≤ threshold.
    */
  def checkNsfwWords(threshold: Double = 0.025): TextFilter = {
    def ratio(c: Column): Column = {
      val words = wordCount(c)
      when(words > 0,
        MultiMatch.countMatches(c, WordLists.NsfwWords).cast(DoubleType) /
          words)
        .otherwise(lit(0.0))
    }
    TextFilter("check_nsfw_words",
      score = ratio, keep = c => ratio(c) <= threshold)
  }

  /** F10 `check_ethics` — filters.py:270-278: keep when the lowercased doc
    * contains NONE of the effective unwanted phrases.
    */
  def checkEthics(): TextFilter = {
    def keepF(c: Column): Column =
      !MultiMatch.containsAny(c, WordLists.UnwantedWords)
    TextFilter("check_ethics",
      score = c => keepF(c).cast(IntegerType), keep = keepF)
  }

  /** F11 `check_ethics_harsh` — filters.py:281-289. */
  def checkEthicsHarsh(): TextFilter = {
    def keepF(c: Column): Column =
      !MultiMatch.containsAny(c, WordLists.HarshUnwantedWords)
    TextFilter("check_ethics_harsh",
      score = c => keepF(c).cast(IntegerType), keep = keepF)
  }

  /** F5 `check_char_repetition` — filters.py:116-128 + utils.py:310-339. */
  def checkCharRepetition(
      n: Int = 10, threshold: Double = 0.2): TextFilter = {
    // codegen expression, not a ScalaUDF — null → 0.0 preserved by the
    // coalesce inside charRepetitionRatio
    def ratio(c: Column): Column = FusedText.charRepetitionRatio(c, n)
    TextFilter("check_char_repetition",
      score = ratio, keep = c => ratio(c) <= threshold)
  }

  /** Registry mirroring utils.py:36-50 name→filter resolution; args bound
    * from config maps.
    */
  def fromConfig(name: String, args: Map[String, Any]): TextFilter = {
    def d(k: String, v: Double) =
      args.get(k).map(_.toString.toDouble).getOrElse(v)
    def i(k: String, v: Int) = args.get(k).map(_.toString.toInt).getOrElse(v)
    def s(k: String, v: String) = args.get(k).map(_.toString).getOrElse(v)
    name match {
      case "check_word_number" => checkWordNumber(
        i("min_word_threshold", 5), i("max_word_threshold", 512))
      case "check_lowercase_ratio" =>
        checkLowercaseRatio(d("lowercase_threshold", 0.75))
      case "check_completion" => checkCompletion()
      case "check_empty" => checkEmpty()
      case "check_truncation" =>
        checkTruncation(s("splitter_token", "<|truncation_splitter|>"))
      case "check_gender" =>
        checkGender(s("splitter_token", "<|gender_splitter|>"))
      case "check_nsfw_words" =>
        checkNsfwWords(d("flagged_words_threshold", 0.025))
      case "check_ethics" => checkEthics()
      case "check_ethics_harsh" => checkEthicsHarsh()
      case "check_char_repetition" => checkCharRepetition(
        i("char_repetition_len", 10), d("char_repetition_threshold", 0.2))
      case "check_perplexity" =>
        // beyond the reference read path (VERDICT r15 #1): `lm_path`
        // (+ optional `pieces_path`) scores with a USER-SUPPLIED text
        // ARPA + SentencePiece vocab export instead of the shipped
        // model — the reference's own threshold configs (300..10000,
        // utils.py:98-106) transfer numerically against the very model
        // that produced them. Absent, the shipped-model path is
        // byte-identical to before. r17: lm_path also accepts a
        // compiled `.glm` (CompileLm — sniffed by magic, loads ~10×
        // faster and ~5× smaller per executor JVM, bit-identical
        // scores: f2_external_lm_bin oracle + PackedLmSpec).
        args.get("lm_path").map(_.toString) match {
          case Some(lm) =>
            val piecesPath = args.get("pieces_path").map(_.toString)
            // lm_segment: greedy (the oracle-pinned default for text
            // vocab exports), viterbi (unigram-SP-faithful), or bpe
            // (merge-rank, r17 — BPE-type models). When the arg is
            // ABSENT and pieces_path is a binary .model, the default is
            // the model's OWN algorithm (trainer_spec.model_type —
            // what the reference's sp.load(model) does): unigram →
            // viterbi, bpe → bpe. Explicit lm_segment always wins.
            val segMode = args.get("lm_segment").map(_.toString) match {
              case Some(m @ ("greedy" | "viterbi" | "bpe")) => m
              case Some(other) => sys.error(
                s"lm_segment must be greedy, viterbi or bpe, got: $other")
              case None =>
                piecesPath
                  .flatMap(p =>
                    graft.scoring.SentencePieceTable.fromFileAuto(p)
                      .modelType)
                  .collect {
                    case "unigram" => "viterbi"
                    case "bpe" => "bpe"
                  }.getOrElse("greedy")
            }
            graft.scoring.Perplexity.filterWith(
              lm, piecesPath,
              d("min_perplexity_threshold", 300),
              d("max_perplexity_threshold", 3000),
              segMode = segMode)
          case None =>
            // pieces_path / lm_segment without lm_path would silently
            // score with the compiled-in word model — a completely
            // different model than the user configured thresholds for
            Seq("pieces_path", "lm_segment").find(args.contains)
              .foreach(k => sys.error(
                s"check_perplexity arg $k requires lm_path " +
                  "(the external model the thresholds were tuned on)"))
            graft.scoring.Perplexity.filter(
              d("min_perplexity_threshold", 300),
              d("max_perplexity_threshold", 3000))
        }
      case other => throw new IllegalArgumentException(s"unknown filter $other")
    }
  }
}

/** F5 core — utils.py:310-339 (via CarperAI/squeakily): frequency of all
  * length-n char ngrams; ratio = mass of the top-⌊√distinct⌋ (capped at
  * distinct − singletons) over total mass.
  */
object CharRepetition extends Serializable {

  /** Window-frequency ratio. r18: the per-window `new String` + HashMap
    * counting (≈100 ns + garbage per window) is replaced by an EXACT
    * pack-sort: one rolling 40-bit hash per window packed with its index
    * into a Long, one `Arrays.sort`, then equal-hash runs verified by
    * codepoint comparison (hash collisions partition the run; nothing is
    * trusted to the hash). Same value on every input — `FusedTextSpec`
    * differentials against [[ratioHashMap]], the old implementation kept
    * verbatim below as the spec's reference (and the fallback for
    * >2^24-codepoint documents, which don't fit the 24-bit index).
    */
  def ratio(doc: String, n: Int): Double = {
    // n-gram windows advance by CODEPOINT, not UTF-16 unit — Python
    // `doc[i:i+n]` and DuckDB `substr` are codepoint-indexed, so astral
    // chars (emoji, surrogate pairs) must count as one position on every
    // engine (ADVICE r3; pinned by the emoji golden in GoldenVectors)
    val cps = doc.codePoints().toArray
    val total = cps.length - n + 1
    if (total <= 0) return 0.0
    if (cps.length >= (1 << 24)) return ratioHashMap(doc, n)

    // rolling polynomial over the window, mixed, top 40 bits + 24-bit idx
    var pow = 1L // 31^(n-1)
    var p = 1
    while (p < n) { pow *= 31L; p += 1 }
    var h = 0L
    var k = 0
    while (k < n) { h = h * 31L + cps(k); k += 1 }
    val packed = new Array[Long](total)
    var i = 0
    while (i < total) {
      val mixed = h * 0x9e3779b97f4a7c15L
      packed(i) = ((mixed >>> 24) << 24) | i.toLong
      if (i + 1 < total) h = (h - cps(i) * pow) * 31L + cps(i + n)
      i += 1
    }
    java.util.Arrays.sort(packed)

    // walk equal-hash runs; within a run, partition by actual content
    val counts = new Array[Int](total)
    var nDistinct = 0
    @inline def sameWin(a: Int, b: Int): Boolean = {
      var t = 0
      while (t < n && cps(a + t) == cps(b + t)) t += 1
      t == n
    }
    var runStart = 0
    while (runStart < total) {
      var runEnd = runStart + 1
      val hash = packed(runStart) >>> 24
      while (runEnd < total && (packed(runEnd) >>> 24) == hash) runEnd += 1
      if (runEnd - runStart == 1) {
        counts(nDistinct) = 1
        nDistinct += 1
      } else {
        // small run: greedy O(g²) content grouping (collisions are rare,
        // g is almost always the count of ONE distinct window)
        val g = runEnd - runStart
        val assigned = new Array[Boolean](g)
        var a = 0
        while (a < g) {
          if (!assigned(a)) {
            val idxA = (packed(runStart + a) & 0xffffff).toInt
            var c = 1
            var b = a + 1
            while (b < g) {
              if (!assigned(b) &&
                  sameWin(idxA, (packed(runStart + b) & 0xffffff).toInt)) {
                assigned(b) = true
                c += 1
              }
              b += 1
            }
            counts(nDistinct) = c
            nDistinct += 1
          }
          a += 1
        }
      }
      runStart = runEnd
    }

    val values = java.util.Arrays.copyOf(counts, nDistinct)
    java.util.Arrays.sort(values)
    topRatio(values)
  }

  /** Pre-r18 reference implementation (exact semantics, HashMap of window
    * strings) — differential target for the pack-sort path and fallback
    * for documents too long for the packed index.
    */
  private[graft] def ratioHashMap(doc: String, n: Int): Double = {
    val cps = doc.codePoints().toArray
    val total = cps.length - n + 1
    if (total <= 0) return 0.0
    val freq = new java.util.HashMap[String, Int](total * 2)
    var i = 0
    while (i < total) {
      freq.merge(new String(cps, i, n), 1, (a, b) => a + b)
      i += 1
    }
    val values = new Array[Int](freq.size)
    val it = freq.values().iterator()
    var j = 0
    while (it.hasNext) { values(j) = it.next(); j += 1 }
    java.util.Arrays.sort(values)
    topRatio(values)
  }

  /** Shared tail: `values` = per-distinct-window frequencies, ascending;
    * ratio = mass of the top-⌊√distinct⌋ (capped at distinct −
    * singletons) over total mass.
    */
  private def topRatio(values: Array[Int]): Double = {
    val len = values.length
    var ones = 0
    var sum = 0L
    var k = 0
    while (k < len) { if (values(k) == 1) ones += 1; sum += values(k); k += 1 }
    val top = math.min(math.sqrt(len.toDouble).toInt, len - ones)
    var topSum = 0L
    var t = 0
    while (t < top) { topSum += values(len - 1 - t); t += 1 }
    topSum.toDouble / sum.toDouble
  }
}
