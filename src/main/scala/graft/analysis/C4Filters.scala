package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The C4 cleanup heuristics (Raffel et al. 2020, JMLR §2.2 — the rules
  * that produced the C4 corpus), complementing [[GopherQuality]]'s
  * signal set: C4 filters LINES first, then gates the document on what
  * survives. Rules implemented here, each spelled with builtin
  * expressions both engines reproduce exactly:
  *
  *   - keep only lines ending in a terminal punctuation mark
  *     (`.` `!` `?` `"` — the closing-quote case is C4's),
  *   - keep only lines with ≥ 5 whitespace words,
  *   - drop lines containing "javascript" (case-insensitive),
  *   - gate the document: ≥ 3 sentences on the RETAINED text, no
  *     "lorem ipsum", no `{` anywhere in the original page.
  *
  * The dirty-word page gate is [[graft.text.Filters]]' F3 (same list);
  * the three-sentence-span dedup C4 also applied is
  * [[graft.dedup.ExactSubstring]]'s job — this object is the line
  * grammar + document gate.
  *
  * Scale shape: pure per-row Column logic (split → filter lambda →
  * rejoin) — codegen, zero shuffles, no UDF. The line predicates use
  * `substring`/`instr`/whitespace-split only, so the DuckDB oracle
  * spells the identical steps with no regex-dialect risk.
  */
object C4Filters {

  private def wsWords(l: Column): Column =
    filter(split(l, "\\s+"), w => length(w) > 0)

  /** True for lines C4 keeps: terminal punctuation, ≥ `minWords`
    * whitespace words, no "javascript".
    */
  def keepLine(l: Column, minWords: Int = 5): Column =
    substring(l, -1, 1).isin(".", "!", "?", "\"") &&
      size(wsWords(l)) >= minWords &&
      instr(lower(l), "javascript") === 0

  /** The retained text: kept lines rejoined with \n ("" when none).
    * r18: the fused one-scan kernel
    * ([[graft.text.GraftTextKernels.c4CleanLines]]) — was
    * `array_join(filter(split(...), keepLine), "\n")`, an interpreted
    * `ArrayFilter` running a regex word split and `instr(lower(l), …)`
    * per line. `FusedTextSpec` differentials the two forms.
    */
  def cleanLines(text: Column, minWords: Int = 5): Column =
    graft.text.FusedText.c4CleanLines(text, minWords)

  /** Sentence count of a text: number of terminal marks `[.!?]`. */
  def sentenceCount(text: Column): Column =
    size(split(text, "[.!?]", -1)) - 1

  /** Per-document C4 signals + the admission gate:
    * (idCol, text_out, n_sentences, has_lorem_ipsum, has_curly_brace,
    * keep) with `keep = n_sentences ≥ minSentences ∧ ¬lorem ∧ ¬brace`.
    */
  def c4Signals(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 5, minSentences: Int = 3): DataFrame = {
    val raw = coalesce(col(textCol), lit(""))
    df.withColumn("text_out", cleanLines(col(textCol), minWords))
      .withColumn("n_sentences", sentenceCount(col("text_out")))
      .withColumn("has_lorem_ipsum", instr(lower(raw), "lorem ipsum") > 0)
      .withColumn("has_curly_brace", instr(raw, "{") > 0)
      .withColumn("keep", col("n_sentences") >= minSentences &&
        !col("has_lorem_ipsum") && !col("has_curly_brace"))
      .select(col(idCol), col("text_out"), col("n_sentences"),
        col("has_lorem_ipsum"), col("has_curly_brace"), col("keep"))
  }
}
