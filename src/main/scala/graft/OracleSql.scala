package graft

import org.apache.spark.sql.SparkSession

import graft.scoring.LmModel
import graft.text.{Cleaners, WordLists}

/** Shared DuckDB-SQL fragment generators for oracle queries. Each mirrors
  * one Spark-side operator EXACTLY (same char tables, same regexes, same
  * arithmetic) so that composite oracles (flagship E2E, F5, the
  * perplexity replays) stay in sync with the single-operator oracles when
  * an operator's semantics change. The perplexity oracles share one
  * model-as-data chain: [[dumpArpa]] writes an n-gram model's tables,
  * [[arpaCtes]] reads them back, [[ccnet]] normalizes the documents, and
  * [[backoffReplay]] scores the tokens.
  */
object OracleSql {

  /** Escape a string for a single-quoted DuckDB literal. */
  def q(s: String): String = "'" + s.replace("'", "''") + "'"

  /** ASCII-whitespace class, spelled out: bundled-DuckDB RE2 `\s` does NOT
    * match `\x0b` (vertical tab), while the Spark-side [[Cleaners.stripWs]]
    * trims the full 0x09-0x0D + space range — an explicit class keeps both
    * engines identical on every input.
    */
  val WsClass: String = "[ \\t\\n\\x0b\\f\\r]"

  /** Python-`strip()` mirror of [[Cleaners.stripWs]]. */
  def strip(e: String): String =
    s"regexp_replace($e, '^$WsClass+|$WsClass+$$', '', 'g')"

  /** `get_words` count mirror of [[graft.text.Filters.wordCount]] —
    * unicode word class, spelled out identically on both engines.
    */
  def wordCount(e: String): String =
    s"len(regexp_extract_all(lower($e), '[\\p{L}\\p{N}_]+'))"

  /** C2 normalize_whitespace: same char table as the Spark CharMap. */
  def normalizeWhitespace(e: String): String = {
    val ws = Cleaners.WhitespaceChars
    val from = ws.map(_.toInt).map(i => s"chr($i)").mkString("||")
    s"translate($e, $from, repeat(' ', ${ws.length}))"
  }

  /** C3 normalize_punctuation: translate for 1:1 + replace for 1:many. */
  def normalizePunctuation(e: String): String = {
    val from = Cleaners.PunctOneToOne.map(_._1).mkString
    val to = Cleaners.PunctOneToOne.map(_._2).mkString
    Cleaners.PunctOneToMany.foldLeft(
      s"translate($e, ${q(from)}, ${q(to)})") {
      case (acc, (f, t)) => s"replace($acc, ${q(f)}, ${q(t)})"
    }
  }

  /** Python-`splitlines` boundary regex (C4), RE2 flavor. Must stay in
    * lock-step with [[Cleaners.LineBoundaryRegex]] (Java flavor).
    */
  val SplitlinesRegexSql: String =
    "\\r\\n|[\\n\\x0b\\f\\r\\x1c-\\x1e\\x{85}\\x{2028}\\x{2029}]"

  /** C4 remove_empty_lines: split on line boundaries, drop blank lines,
    * re-join with \n.
    */
  def removeEmptyLines(e: String): String =
    s"array_to_string(list_filter(regexp_split_to_array($e, " +
      s"'$SplitlinesRegexSql'), x -> NOT regexp_matches(x, " +
      s"'^$WsClass*$$')), chr(10))"

  /** F4 lowercase-ratio score (empty → 0.0). */
  def lowercaseRatio(e: String): String =
    s"CASE WHEN length($e)=0 THEN 0.0 ELSE " +
      s"CAST(length(regexp_replace($e, '[^a-z]', '', 'g')) AS DOUBLE)" +
      s"/length($e) END"

  /** F7 completion predicate: last char of the stripped doc is terminal
    * punctuation (same list as [[WordLists.CompletionPunctuations]]).
    */
  def completionKeep(e: String): String =
    s"${strip(e)}[-1:] IN (" +
      WordLists.CompletionPunctuations.map(q).mkString(", ") + ")"

  /** F5 char-repetition ratio as a CTE chain (utils.py:310-339 semantics:
    * frequency of all length-`n` char ngrams; ratio = mass of the
    * top-⌊√distinct⌋ (capped at distinct − singletons) over total mass).
    *
    * Codepoint-indexed on both engines: DuckDB `length`/`substr` count
    * Unicode codepoints and the Spark-side CharRepetition UDF iterates
    * codepoints too, so ngram windows agree on astral-plane characters
    * (emoji, surrogate pairs) — pinned by the emoji golden vector.
    *
    * Consumes a CTE named `src` exposing key columns `keys` plus a text
    * column `textCol`; emits CTEs ending in `__cr_ratio(keys..., ratio)`.
    * Rows whose text is shorter than `n` produce NO `__cr_ratio` row —
    * consumers LEFT JOIN and `coalesce(ratio, 0.0)`.
    */
  def charRepetitionCtes(src: String, keys: Seq[String], textCol: String,
      n: Int): String = {
    val k = keys.mkString(", ")
    s"__cr_grams AS (SELECT $k, unnest(list_transform(range(1, " +
      s"length($textCol)-${n - 2}), __p -> substr($textCol, __p, $n))) AS g " +
      s"FROM $src WHERE length($textCol) >= $n), " +
      s"__cr_freq AS (SELECT $k, g, count(*) AS c FROM __cr_grams " +
      s"GROUP BY $k, g), " +
      s"__cr_stats AS (SELECT $k, count(*) AS dn, CAST(sum(c) AS BIGINT) " +
      s"AS total, CAST(sum(CASE WHEN c=1 THEN 1 ELSE 0 END) AS BIGINT) " +
      s"AS ones FROM __cr_freq GROUP BY $k), " +
      s"__cr_ranked AS (SELECT $k, c, row_number() OVER (PARTITION BY $k " +
      s"ORDER BY c DESC) AS rk FROM __cr_freq), " +
      s"__cr_top AS (SELECT ${keys.map("r." + _).mkString(", ")}, " +
      s"CAST(sum(r.c) AS BIGINT) AS ts FROM __cr_ranked r JOIN __cr_stats " +
      s"s USING ($k) WHERE r.rk <= least(CAST(floor(sqrt(s.dn)) AS " +
      s"BIGINT), s.dn - s.ones) GROUP BY ${keys.map("r." + _).mkString(", ")}), " +
      s"__cr_ratio AS (SELECT ${keys.map("s." + _).mkString(", ")}, " +
      s"CAST(coalesce(t.ts, 0) AS DOUBLE)/s.total AS ratio FROM " +
      s"__cr_stats s LEFT JOIN __cr_top t USING ($k))"
  }

  /** cc_net normalization (kenlm_model.py:144-184), mirroring
    * [[graft.scoring.CcNetNormalizer]] step for step: trim → lower →
    * strip accents → digits→0 → punctuation map → drop non-printing.
    */
  def ccnet(e: String): String =
    "regexp_replace(" +
      normalizePunctuation(
        s"regexp_replace(strip_accents(lower(${strip(e)})), " +
          "'[0-9]', '0', 'g')") +
      ", '[\\x00-\\x09\\x0b-\\x1f\\x7f-\\x9f]', '', 'g')"

  /** Export an n-gram model AS DATA under `dir`: the order tables
    * `uni(w, p, bo)`, `bi`/`tri(g, p, bo)` and `quad(g, p)` that
    * [[arpaCtes]] reads.
    */
  def dumpArpa(s: SparkSession, m: LmModel, dir: String): Unit = {
    import s.implicits._
    m.uniRows.toDF("w", "p", "bo").write.mode("overwrite").parquet(s"$dir/uni")
    m.biRows.toDF("g", "p", "bo").write.mode("overwrite").parquet(s"$dir/bi")
    m.triRows.toDF("g", "p", "bo").write.mode("overwrite").parquet(s"$dir/tri")
    m.quadRows.toDF("g", "p").write.mode("overwrite").parquet(s"$dir/quad")
  }

  /** CTEs `uni`, `bi`, `tri`, `quad` over a [[dumpArpa]] directory, each
    * followed by ", ".
    */
  def arpaCtes(dir: String): String =
    Seq("uni", "bi", "tri", "quad").map(t =>
      s"$t AS (SELECT * FROM parquet_scan('$dir/$t/*.parquet')), ").mkString

  /** The KenLM scoring replay, from the CTE `mtok` to the end of the
    * statement: `<unk>` vocab mapping, the 4→3→2→1-gram backoff chain per
    * event (`<s>` history, one `</s>` event), ordered log-sum, and the
    * reference's `round(10^(−Σ/len), 1)` as column `outCol`, ordered by
    * doc_id. Reads [[arpaCtes]], `d(doc_id, …)` with one row per document
    * (an empty document scores its lone `</s>`), and `tok(doc_id, i, w)`
    * with the document's tokens in `i` order.
    */
  def backoffReplay(outCol: String): String = {
    val bichain =
      "CASE WHEN bp IS NOT NULL THEN bp ELSE coalesce(bo1v, 0) + up END"
    val trichain = "CASE WHEN h2 IS NULL THEN " + bichain +
      " WHEN tp IS NOT NULL THEN tp ELSE coalesce(bo2v, 0) + " +
      bichain + " END"
    val quadchain = "CASE WHEN h3 IS NULL THEN " + trichain +
      " WHEN qp IS NOT NULL THEN qp ELSE coalesce(bo3v, 0) + " +
      trichain + " END"
    "mtok AS (SELECT tok.doc_id, tok.i, CASE WHEN u.w IS NULL THEN " +
      "'<unk>' ELSE tok.w END AS m FROM tok LEFT JOIN uni u ON " +
      "u.w = tok.w), " +
      "seqs AS (SELECT doc_id, list(m ORDER BY i) AS ms FROM mtok " +
      "GROUP BY doc_id), " +
      "fl AS (SELECT d.doc_id, coalesce(s.ms, []) AS ms FROM d LEFT " +
      "JOIN seqs s USING (doc_id)), " +
      "ev AS (SELECT doc_id, i, " +
      "CASE WHEN i <= len(ms) THEN ms[i] ELSE '</s>' END AS w, " +
      "CASE WHEN i = 1 THEN '<s>' ELSE ms[i-1] END AS h1, " +
      "CASE WHEN i = 2 THEN '<s>' WHEN i > 2 THEN ms[i-2] END AS h2, " +
      "CASE WHEN i = 3 THEN '<s>' WHEN i > 3 THEN ms[i-3] END AS h3 " +
      "FROM fl, LATERAL (SELECT unnest(generate_series(1, len(ms)+1)) " +
      "AS i) g), " +
      "lk AS (SELECT e.doc_id, e.i, e.h2, e.h3, q.p AS qp, b3.bo AS " +
      "bo3v, tr.p AS tp, b2.bo AS bo2v, bb.p AS bp, u1.bo AS bo1v, " +
      "uw.p AS up FROM ev e " +
      "LEFT JOIN quad q ON e.h3 IS NOT NULL AND q.g = e.h3 || ' ' || " +
      "e.h2 || ' ' || e.h1 || ' ' || e.w " +
      "LEFT JOIN tri b3 ON e.h3 IS NOT NULL AND b3.g = e.h3 || ' ' || " +
      "e.h2 || ' ' || e.h1 " +
      "LEFT JOIN tri tr ON e.h2 IS NOT NULL AND tr.g = e.h2 || ' ' || " +
      "e.h1 || ' ' || e.w " +
      "LEFT JOIN bi b2 ON e.h2 IS NOT NULL AND b2.g = e.h2 || ' ' || " +
      "e.h1 " +
      "LEFT JOIN bi bb ON bb.g = e.h1 || ' ' || e.w " +
      "LEFT JOIN uni u1 ON u1.w = e.h1 " +
      "LEFT JOIN uni uw ON uw.w = e.w), " +
      s"pv AS (SELECT doc_id, i, ($quadchain) AS p FROM lk), " +
      "res AS (SELECT doc_id, list_sum(list(p ORDER BY i)) AS logsum, " +
      "count(*) AS len FROM pv GROUP BY doc_id) " +
      "SELECT doc_id, round(pow(10, -logsum/len), 1) AS " +
      s"$outCol FROM res ORDER BY doc_id"
  }
}
