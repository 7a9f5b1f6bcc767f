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
  * [[backoffReplay]] scores the tokens. The dedup oracles share one
  * clustering replay (see the dedup section below).
  */
object OracleSql {

  /** Escape a string for a single-quoted DuckDB literal. */
  def q(s: String): String = "'" + s.replace("'", "''") + "'"

  /** `parquet_scan` of the parquet files of side channel `name`. */
  def scan(name: String): String =
    s"parquet_scan('${SideChannel.sqlPath(name)}/*.parquet')"

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
  def wordCount(e: String): String = s"len(${words(e)})"

  /** The `get_words` tokens of [[wordCount]], as a list. */
  def words(e: String): String =
    s"regexp_extract_all(lower($e), '[\\p{L}\\p{N}_]+')"

  /** [[graft.analysis.TermStats.words]] mirror: the `[a-z0-9_]` runs of
    * the lowercased `e`, as a list.
    */
  def termWords(e: String): String =
    s"list_filter(regexp_split_to_array(lower($e), '[^a-z0-9_]+'), " +
      "x -> x <> '')"

  /** Non-overlapping occurrences of the plain word `w` in `e`, as BIGINT
    * (the `TextAnalysis` substring-count shape).
    */
  def occurrences(e: String, w: String): String =
    s"CAST((length($e)-length(replace($e,'$w','')))//${w.length} AS BIGINT)"

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

  /** [[graft.text.Html]] extraction's whitespace normalization of `e`:
    * each line's space runs collapsed and trimmed, blank lines dropped.
    */
  def htmlNormalize(e: String): String =
    "coalesce(list_aggregate(list_filter(list_transform(string_split(" +
      e + ", chr(10)), x -> trim(regexp_replace(x, '[ \\t\\v\\f\\r]+', " +
      "' ', 'g'))), x -> x <> ''), 'string_agg', chr(10)), '')"

  /** [[graft.analysis.C4Filters.cleanLines]] mirror: the lines of `e`
    * that end in terminal punctuation, hold ≥ 5 whitespace words and no
    * "javascript", rejoined with \n ('' when none).
    */
  def c4CleanLines(e: String): String =
    "coalesce(list_aggregate(list_filter(string_split(" + e + ", " +
      "chr(10)), x -> substr(x, -1, 1) IN ('.', '!', '?', '\"') AND " +
      "len(list_filter(regexp_split_to_array(x, '\\s+'), w -> w <> '')) " +
      ">= 5 AND instr(lower(x), 'javascript') = 0), 'string_agg', " +
      "chr(10)), '')"

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

  /** CTEs `uni`, `bi`, `tri`, `quad` over the [[dumpArpa]] directory of
    * side channel `name`, each followed by ", ".
    */
  def arpaCtes(name: String): String =
    Seq("uni", "bi", "tri", "quad").map(t =>
      s"$t AS (SELECT * FROM ${scan(s"$name/$t")}), ").mkString

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

  // ---- dedup clustering replays ----
  //
  // Every dedup query exports the frame its oracle reads, named by
  // variant: the minhash family its exploded (id, band, bsig) signature
  // frame as `dedup_banded_<variant>`, the hamming family its (id, sig)
  // frame as `dedup_sigs_<variant>`, and the embedding dedups their
  // verified edge list as `dedup_edges_<variant>`. DuckDB derives the
  // candidate edges (bucket-min per band, bit-sliced banding + hamming
  // verify, exact Jaccard or Levenshtein verify) and replays the
  // clustering — transitive closure → component minima → keep-first —
  // itself, so pair finding and clustering are both checked by something
  // that is not the engine. Edge VALIDITY is proven separately by
  // DedupInvariantSpec's kernel re-verification.

  /** Transitive closure → component minima over an `e(a, b)` CTE holding
    * both directions of every edge, ending in `root(id, root)`.
    */
  private val reachRoot: String =
    "reach(a, b) AS (SELECT a, b FROM e UNION " +
      "SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a), " +
      "root AS (SELECT a AS id, least(a, min(b)) AS root FROM reach " +
      "GROUP BY a)"

  /** Symmetrize → closure → component minima over an `e0(a, b)` CTE in
    * scope — the shared tail of every signature-derived clustering.
    */
  private val closureFromE0: String =
    "e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), " + reachRoot

  /** The keep-first predicate over `root r`: `id` is its component's
    * minimum, or in no component.
    */
  def isRoot(id: String): String = s"r.root IS NULL OR r.root = $id"

  /** Keep-first tail: the ids of `table` that no smaller id reaches. */
  def keepFirstTail(table: String, idCol: String): String =
    s"SELECT t.$idCol FROM $table t LEFT JOIN root r ON t.$idCol = r.id " +
      s"WHERE ${isRoot(s"t.$idCol")} ORDER BY t.$idCol"

  /** Keep-first tail of an increment `from(id)` deduped against a store:
    * its ids carry the `off` offset (every store id orders below every
    * increment id) and come back as `doc_id`.
    */
  private def offsetKeepFirstTail(from: String, off: Long): String =
    s"SELECT d.id - $off AS doc_id FROM $from d " +
      s"LEFT JOIN root r ON d.id = r.id WHERE ${isRoot("d.id")} " +
      "ORDER BY doc_id"

  /** Keep-first over the exported undirected edge list
    * `dedup_edges_<variant>` of (__x__, __y__): kept = ids not reachable
    * from any smaller id.
    */
  def edgeKeepFirstSql(variant: String, table: String,
      idCol: String): String = {
    val edges = scan(s"dedup_edges_$variant")
    s"WITH RECURSIVE e AS (SELECT __x__ AS a, __y__ AS b FROM $edges " +
      s"UNION SELECT __y__, __x__ FROM $edges), " + reachRoot + " " +
      keepFirstTail(table, idCol)
  }

  /** LSH candidate star edges `edges(a, b)` from the banded frame
    * `dedup_banded_<variant>`: each id to the minimum id of every
    * (band, bsig) bucket it is in. Leaves `bnd(id, band, bsig)` in scope.
    */
  def bucketMinCtes(variant: String, edges: String): String =
    s"bnd AS (SELECT id, band, bsig FROM ${scan(s"dedup_banded_$variant")}), " +
      "lshm AS (SELECT id, min(id) OVER (PARTITION BY band, bsig) AS mn " +
      "FROM bnd), " +
      s"$edges AS (SELECT DISTINCT id AS a, mn AS b FROM lshm " +
      "WHERE id <> mn)"

  /** Identical/short-class star edges `ide(a, b)` recomputed from a
    * `dsrc(id, t)` CTE in scope. Partitioning by (short?, text-or-'') is
    * the same grouping as MinHashDedup's sentinel key — DuckDB strings
    * cannot hold NUL, so the sentinel is a separate boolean partition
    * column instead.
    */
  def identCtes(minNgram: Int): String =
    "tokc AS (SELECT id, len(regexp_split_to_array(coalesce(t, ''), " +
      s"'[^A-Za-z_0-9]')) < $minNgram AS sh, coalesce(t, '') AS tt " +
      "FROM dsrc), " +
      "cmk AS (SELECT id, min(id) OVER (PARTITION BY sh, CASE WHEN sh " +
      "THEN '' ELSE tt END) AS kmin FROM tokc), " +
      "ide AS (SELECT id AS a, kmin AS b FROM cmk WHERE id <> kmin)"

  /** MinHash clustering derived in SQL from `variant`'s banded frame:
    * LSH bucket-min edges plus the identical/short-class edges of the
    * `dsrc(id, t)` CTE in scope. Ends in `root(id, root)`.
    */
  def minhashCtes(variant: String, minNgram: Int): String =
    bucketMinCtes(variant, "lshe") + ", " + identCtes(minNgram) + ", " +
      "e0 AS (SELECT a, b FROM lshe UNION SELECT a, b FROM ide), " +
      closureFromE0

  /** The tail of a minhash dedup against a store `st(band, bsig, sid)`,
    * after [[bucketMinCtes]] (`lshe`) and [[identCtes]] over the
    * increment `dsrc`: store collisions via the same (band, bsig) join,
    * closure, and the root-below-offset death rule.
    */
  def bandStoreTail(off: Long): String =
    "crs AS (SELECT DISTINCT b.id AS a, st.sid AS b FROM bnd b " +
      "JOIN st USING (band, bsig)), " +
      "e0 AS (SELECT a, b FROM lshe UNION SELECT a, b FROM ide " +
      "UNION SELECT a, b FROM crs), " +
      closureFromE0 + " " + offsetKeepFirstTail("dsrc", off)

  /** Two-stage ngram-Jaccard keep-first: bucket-min candidates from the
    * banded frame, verified by the exact word-n-gram Jaccard recomputed
    * from the corpus (both engines' division is IEEE double, so
    * `>= threshold` agrees bit-for-bit).
    */
  def ngramKeepFirstSql(variant: String, n: Int, threshold: Double,
      table: String, idCol: String): String = {
    val gram = (0 until n).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    "WITH RECURSIVE " + bucketMinCtes(variant, "cand") + ", " +
      s"w AS (SELECT $idCol AS did, ${termWords("coalesce(text, '')")} " +
      s"AS ws FROM $table), " +
      s"g AS (SELECT did, CASE WHEN len(ws) < $n THEN [] ELSE " +
      s"list_distinct(list_transform(range(1, len(ws) - ${n - 2}), " +
      s"i -> $gram)) END AS gr FROM w), " +
      "v AS (SELECT c.a, c.b FROM cand c JOIN g ga ON ga.did = c.a " +
      "JOIN g gb ON gb.did = c.b WHERE CASE WHEN " +
      "len(list_distinct(ga.gr || gb.gr)) = 0 THEN 0.0 ELSE " +
      "len(list_filter(list_distinct(ga.gr), x -> list_contains(gb.gr, " +
      s"x)))::DOUBLE / len(list_distinct(ga.gr || gb.gr)) END " +
      s">= $threshold), " +
      "e0 AS (SELECT a, b FROM v), " + closureFromE0 + " " +
      keepFirstTail(table, idCol)
  }

  /** Levenshtein-verified keep-first: bucket-min candidates from the
    * banded frame, verified by the normalized Levenshtein similarity of
    * `text` (an SQL expression over `table`). The distance and lengths
    * are integers and the similarity one IEEE double division, so
    * `>= threshold` agrees bit-for-bit. DuckDB's levenshtein counts byte
    * edits where Spark's counts codepoint edits: `encode` maps both
    * operands to a string whose byte edits are the codepoint edits.
    */
  def levKeepFirstSql(variant: String, threshold: Double, text: String,
      table: String, idCol: String,
      encode: String => String = identity): String =
    "WITH RECURSIVE " + bucketMinCtes(variant, "cand") + ", " +
      s"d AS (SELECT $idCol AS did, $text AS t FROM $table), " +
      "v AS (SELECT c.a, c.b FROM cand c JOIN d da ON da.did = c.a " +
      "JOIN d db ON db.did = c.b WHERE CASE WHEN greatest(len(da.t), " +
      "len(db.t)) = 0 THEN 1.0 ELSE 1.0 - " +
      s"levenshtein(${encode("da.t")}, ${encode("db.t")})::DOUBLE" +
      s" / greatest(len(da.t), len(db.t)) END >= $threshold), " +
      "e0 AS (SELECT a, b FROM v), " + closureFromE0 + " " +
      keepFirstTail(table, idCol)

  /** Hamming-0 collapse of `from(id, sig)`: `ide(a, b)` ties each id to
    * its signature's minimum id, `reps(id, sig)` keeps that minimum.
    */
  private def sigCollapseCtes(from: String): String =
    s"cmu AS (SELECT id, sig, min(id) OVER (PARTITION BY sig) AS smin " +
      s"FROM $from), " +
      "ide AS (SELECT id AS a, smin AS b FROM cmu WHERE id <> smin), " +
      "reps AS (SELECT id, sig FROM cmu WHERE id = smin)"

  /** `name(idCol, sig, band, chunk)`: the k+1 bit-sliced band chunks of
    * the signatures of `from` (arithmetic shift + mask equals the JVM's
    * unsigned shift once masked).
    */
  private def sigBandsCte(name: String, idCol: String, from: String,
      maxHamming: Int): String = {
    val bands = maxHamming + 1
    val width = 64 / bands
    val mask = (1L << width) - 1
    s"$name AS (SELECT $idCol, sig, band, (sig >> (band * $width)) & " +
      s"$mask AS chunk FROM $from, LATERAL (SELECT unnest(" +
      s"generate_series(0, ${bands - 1})) AS band) g)"
  }

  /** `pr(a, b)`: the pairs of `bd` that share a band chunk and differ in
    * at most `maxHamming` bits.
    */
  private def sigPairsCte(bd: String, maxHamming: Int): String =
    s"pr AS (SELECT y.id AS a, x.id AS b FROM $bd x JOIN $bd y ON " +
      "x.band = y.band AND x.chunk = y.chunk AND x.id < y.id " +
      s"WHERE bit_count(xor(x.sig, y.sig)) <= $maxHamming)"

  /** SimHash keep-first from the exported (id, sig) frame alone: the
    * hamming-0 collapse, the band chunks, the bucket self-join, the
    * `bit_count(xor(...)) <= k` verify and the clustering. With
    * `skipNullSigs`, NULL sigs (undecodable payloads) stay out of the
    * clustering, so their rows fall through the final left join and
    * survive.
    */
  def simhashKeepFirstSql(variant: String, maxHamming: Int, table: String,
      idCol: String, skipNullSigs: Boolean = false): String =
    s"WITH RECURSIVE s AS (SELECT id, sig FROM " +
      scan(s"dedup_sigs_$variant") +
      (if (skipNullSigs) " WHERE sig IS NOT NULL" else "") + "), " +
      sigCollapseCtes("s") + ", " +
      sigBandsCte("bd", "id", "reps", maxHamming) + ", " +
      sigPairsCte("bd", maxHamming) + ", " +
      "e0 AS (SELECT a, b FROM pr UNION SELECT a, b FROM ide), " +
      closureFromE0 + " " + keepFirstTail(table, idCol)

  /** The tail of a hamming dedup against a store `st(sig, sid)`: the
    * increment's exported frame `dedup_sigs_<incVariant>` (NULL sigs pass
    * through), its hamming-0 collapse and band pairs over reps, cross
    * edges banding every increment row against the store, closure, and
    * the root-below-offset death rule.
    */
  def sigStoreTail(incVariant: String, maxHamming: Int, off: Long): String =
    s"incs AS (SELECT id, sig FROM ${scan(s"dedup_sigs_$incVariant")}), " +
      "inc AS (SELECT id, sig FROM incs WHERE sig IS NOT NULL), " +
      sigCollapseCtes("inc") + ", " +
      sigBandsCte("bdr", "id", "reps", maxHamming) + ", " +
      sigBandsCte("bda", "id", "inc", maxHamming) + ", " +
      sigBandsCte("bds", "sid", "st", maxHamming) + ", " +
      sigPairsCte("bdr", maxHamming) + ", " +
      "crs AS (SELECT DISTINCT a.id AS a, s.sid AS b FROM bda a " +
      "JOIN bds s ON a.band = s.band AND a.chunk = s.chunk " +
      s"WHERE bit_count(xor(a.sig, s.sig)) <= $maxHamming), " +
      "e0 AS (SELECT a, b FROM pr UNION SELECT a, b FROM ide " +
      "UNION SELECT a, b FROM crs), " +
      closureFromE0 + " " + offsetKeepFirstTail("incs", off)
}
