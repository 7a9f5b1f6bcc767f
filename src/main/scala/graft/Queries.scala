package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.{Cleaners, Filters, WordLists}

/** One verifiable operator query: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL the
  * driver hash-compares at sf0.01. Column names and ORDER BY are kept
  * identical on both sides (the driver sorts columns by name before
  * hashing).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Queries {

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` physical type has varied across driver data
    * generations: TIMESTAMP(NANOS) (which Spark's reader rejects — read
    * nanos as long and rebuild a truncated-to-micros timestamp) vs plain
    * TIMESTAMP_NTZ micros (use as-is, cast to session-TZ timestamp; the
    * session runs UTC so the wall-clock reading is unchanged). DuckDB's
    * `epoch_us(ts)` reads both the same way, so the oracles don't care.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, dir, "events"))
  }

  /** See [[events]]; shared with the streaming/plan specs. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // INTEGER division: `ts / 1000` is a double divide, and nanos
        // ~1.7e18 exceed a double's 53-bit integer range — the rounded
        // quotient truncates to the wrong microsecond on ~12% of rows
        // (measured), which DuckDB's exact nanos→micros truncation would
        // expose in any micros-exact oracle
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  private def docs(s: SparkSession, dir: String) = table(s, dir, "documents")

  import OracleSql.q

  // ------------------------------------------------------------------
  // Shared synthetic "document" constructions. documents.text is clean
  // lowercase word soup, so each operator query injects the structures it
  // exercises (unicode, case, splitters, phrases) IDENTICALLY in Spark and
  // DuckDB — the oracle compares the full transform, not just happy paths.
  // ------------------------------------------------------------------

  private val d = "doc_id"

  // ---- cleaners (SURVEY §2.3) ----

  private val c1 = QueryDef("c1_fix_utf8",
    (s, dir) => docs(s, dir)
      .select(col(d), Cleaners.fixUtf8Encoding(
        concat(col("text"), lit(" cafe"), lit("́"))).as("cleaned"))
      .orderBy(d),
    Some("SELECT doc_id, nfc_normalize(text || ' cafe' || chr(769)) AS cleaned " +
      "FROM documents ORDER BY doc_id"))

  private val c2 = {
    val wsFrom = Cleaners.WhitespaceChars
    val sqlFrom = wsFrom.map(_.toInt).map(i => s"chr($i)").mkString("||")
    QueryDef("c2_normalize_whitespace",
      (s, dir) => docs(s, dir)
        .select(col(d), Cleaners.normalizeWhitespace(
          when(col(d) % 3 === 0, replace(col("text"), lit(" "), lit(" ")))
            .otherwise(col("text"))).as("cleaned"))
        .orderBy(d),
      Some(s"SELECT doc_id, translate(CASE WHEN doc_id%3=0 THEN " +
        s"replace(text,' ',chr(8201)) ELSE text END, $sqlFrom, " +
        s"repeat(' ', ${wsFrom.length})) AS cleaned FROM documents ORDER BY doc_id"))
  }

  private val c3 = {
    val injected = Cleaners.PunctOneToOne.map(_._1).mkString +
      Cleaners.PunctOneToMany.map(_._1).mkString
    val from = Cleaners.PunctOneToOne.map(_._1).mkString
    val to = Cleaners.PunctOneToOne.map(_._2).mkString
    val sqlReplaces = Cleaners.PunctOneToMany.foldLeft(
      s"translate(text || ${q(injected)}, ${q(from)}, ${q(to)})") {
      case (acc, (f, t)) => s"replace($acc, ${q(f)}, ${q(t)})"
    }
    QueryDef("c3_normalize_punctuation",
      (s, dir) => docs(s, dir)
        .select(col(d), Cleaners.normalizePunctuation(
          concat(col("text"), lit(injected))).as("cleaned"))
        .orderBy(d),
      Some(s"SELECT doc_id, $sqlReplaces AS cleaned FROM documents ORDER BY doc_id"))
  }

  /** Injects every Python-`splitlines` boundary class: CRLF/CR/LF plus
    * \v \x1c, \x85, U+2028/9, \f — with blank and non-blank lines between.
    */
  private val c4 = QueryDef("c4_remove_empty_lines",
    (s, dir) => docs(s, dir)
      .select(col(d), Cleaners.removeEmptyLines(
        concat(col("text"), lit("\n   \r\n\t\r"),
          substring(col("text"), 1, 20), lit("\u000B"),
          substring(col("text"), 1, 10),
          lit("\u001C \u0085\u2028x\u2029\f\n\n"))).as("cleaned"))
      .orderBy(d),
    Some("SELECT doc_id, " + OracleSql.removeEmptyLines(
      "text || chr(10)||'   '||chr(13)||chr(10)||chr(9)||chr(13) || " +
        "substr(text,1,20) || chr(11) || substr(text,1,10) || " +
        "chr(28)||' '||chr(133)||chr(8232)||'x'||chr(8233)||chr(12)||" +
        "chr(10)||chr(10)") +
      " AS cleaned FROM documents ORDER BY doc_id"))

  private val c5 = QueryDef("c5_clean_new_lines",
    (s, dir) => docs(s, dir)
      .select(col(d), Cleaners.cleanNewLines(
        concat(lit(" \t"),
          when(col(d) % 2 === 0, replace(col("text"), lit(" "), lit("\n")))
            .otherwise(col("text")),
          lit("\n "))).as("cleaned"))
      .orderBy(d),
    Some("SELECT doc_id, replace(" + OracleSql.strip(
      "' '||chr(9)||chr(11)|| CASE WHEN doc_id%2=0 THEN " +
        "replace(text,' ',chr(10)) ELSE text END ||chr(10)||chr(11)||' '") +
      ", chr(10), '') AS cleaned FROM documents ORDER BY doc_id"))

  // ---- filters (SURVEY §2.4): keep-mode + dry-run score-mode ----

  private val sqlWords = (e: String) => OracleSql.wordCount(e)

  private val f1 = QueryDef("f1_check_word_number",
    (s, dir) => docs(s, dir)
      .where(Filters.checkWordNumber(20, 60).keep(col("text")))
      .select(col(d), col("text")).orderBy(d),
    Some(s"SELECT doc_id, text FROM documents WHERE ${sqlWords("text")} " +
      "BETWEEN 20 AND 60 ORDER BY doc_id"))

  private val f1score = QueryDef("f1_word_number_score",
    (s, dir) => docs(s, dir)
      .select(col(d),
        Filters.checkWordNumber().score(col("text"))
          .as("text_check_word_number_criteria"))
      .orderBy(d),
    Some(s"SELECT doc_id, ${sqlWords("text")} AS " +
      "text_check_word_number_criteria FROM documents ORDER BY doc_id"))

  private val f4 = {
    val sparkDoc = when(col(d) % 4 === 0, upper(col("text"))).otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%4=0 THEN upper(text) ELSE text END"
    QueryDef("f4_check_lowercase_ratio",
      (s, dir) => docs(s, dir)
        .select(col(d), sparkDoc.as("doc"),
          Filters.checkLowercaseRatio().score(sparkDoc).as("ratio"))
        .where(Filters.checkLowercaseRatio(0.75).keep(sparkDoc))
        .orderBy(d),
      Some(s"SELECT doc_id, $sqlDoc AS doc, CASE WHEN length($sqlDoc)=0 THEN 0.0 " +
        s"ELSE CAST(length(regexp_replace($sqlDoc, '[^a-z]', '', 'g')) AS DOUBLE)" +
        s"/length($sqlDoc) END AS ratio FROM documents WHERE CASE WHEN " +
        s"length($sqlDoc)=0 THEN 0.0 ELSE CAST(length(regexp_replace($sqlDoc, " +
        s"'[^a-z]', '', 'g')) AS DOUBLE)/length($sqlDoc) END >= 0.75 ORDER BY doc_id"))
  }

  private val f6 = {
    val tok = "<|truncation_splitter|>"
    val sparkDoc = concat(col("text"), lit(tok),
      when(col(d) % 2 === 0, substring(col("text"), 1, 10))
        .otherwise(reverse(substring(col("text"), 1, 10))))
    val sqlDoc = s"text || ${q(tok)} || CASE WHEN doc_id%2=0 THEN " +
      "substr(text,1,10) ELSE reverse(substr(text,1,10)) END"
    QueryDef("f6_check_truncation",
      (s, dir) => docs(s, dir)
        .where(Filters.checkTruncation(tok).keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some(s"SELECT doc_id FROM documents WHERE NOT contains(" +
        s"string_split($sqlDoc, ${q(tok)})[1], string_split($sqlDoc, ${q(tok)})[2]) " +
        "ORDER BY doc_id"))
  }

  private val f7 = {
    // the \x0B suffixes exercise stripWs vs RE2-\s at the string edge
    // (ADVICE r3): '.\x0B' must strip to a completed doc, '\x0B' to an
    // uncompleted one — on BOTH engines
    val sparkDoc = concat(col("text"),
      element_at(array(lit("."), lit("!"), lit(""), lit("?"), lit(" "),
        lit("."), lit("")),
        (col(d) % 7 + 1).cast("int")))
    val sqlDoc = "text || (['.', '!', '', '?', ' ', '.'||chr(11), " +
      "chr(11)])[(doc_id%7+1)::INT]"
    QueryDef("f7_check_completion",
      (s, dir) => docs(s, dir)
        .where(Filters.checkCompletion().keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some(s"SELECT doc_id FROM documents WHERE " +
        OracleSql.completionKeep(sqlDoc) + " ORDER BY doc_id"))
  }

  private val f8 = {
    val tok = "<|gender_splitter|>"
    val sparkA = when(col(d) % 3 === 0, lit("he went home"))
      .when(col(d) % 3 === 1, lit("boy went home"))
      .otherwise(lit("nobody here"))
    // leading/trailing whitespace around the halves exercises the
    // Python-`.split()` empty-token drop (ADVICE r1: naive \s+ split keeps
    // a leading "" token and misaligns every position)
    val sparkB = when(col(d) % 2 === 0, lit("  she went home"))
      .otherwise(lit("boy stayed put "))
    val sparkDoc = concat(sparkA, lit(tok), sparkB)
    val sqlDoc = "(CASE WHEN doc_id%3=0 THEN 'he went home' WHEN doc_id%3=1 " +
      "THEN 'boy went home' ELSE 'nobody here' END) || " + q(tok) +
      " || (CASE WHEN doc_id%2=0 THEN '  she went home' ELSE 'boy stayed put ' END)"
    val g = "['he','she','him','her','girl','boy']"
    QueryDef("f8_check_gender",
      (s, dir) => docs(s, dir)
        .where(Filters.checkGender(tok).keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some("SELECT doc_id FROM (SELECT doc_id, " +
        s"list_filter(regexp_split_to_array(lower(string_split($sqlDoc, " +
        s"${q(tok)})[1]), '${OracleSql.WsClass}+'), x -> x <> '') AS wa, " +
        s"list_filter(regexp_split_to_array(lower(string_split($sqlDoc, " +
        s"${q(tok)})[2]), '${OracleSql.WsClass}+'), x -> x <> '') AS wb " +
        "FROM documents) WHERE len(list_filter(range(1, least(len(wa), len(wb))+1), " +
        s"i -> list_contains($g, wa[i]) AND list_contains($g, wb[i]) AND wa[i] <> wb[i])) > 0 " +
        "ORDER BY doc_id"))
  }

  private val f9 = {
    // the \x0B-only doc must be empty after strip on BOTH engines
    val sparkDoc = when(col(d) % 7 === 0, lit("... …  \t "))
      .otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%7=0 THEN '... …  '||chr(9)||chr(11)||' ' " +
      "ELSE text END"
    QueryDef("f9_check_empty",
      (s, dir) => docs(s, dir)
        .where(Filters.checkEmpty().keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some(s"SELECT doc_id FROM documents WHERE length(" + OracleSql.strip(
        s"replace(replace($sqlDoc, '...', ''), '…', '')") +
        ") <> 0 ORDER BY doc_id"))
  }

  private def containsAnySql(expr: String, phrases: Array[String]): String =
    phrases.map(p => s"contains($expr, ${q(p)})").mkString("(", " OR ", ")")

  private val f10 = {
    val sparkDoc = when(col(d) % 11 === 0,
      concat(col("text"), lit(" As an AI language model I cannot.")))
      .otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%11=0 THEN text || " +
      "' As an AI language model I cannot.' ELSE text END"
    QueryDef("f10_check_ethics",
      (s, dir) => docs(s, dir)
        .where(Filters.checkEthics().keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some(s"SELECT doc_id FROM documents WHERE NOT " +
        containsAnySql(s"lower($sqlDoc)", WordLists.UnwantedWords) +
        " ORDER BY doc_id"))
  }

  private val f11 = {
    val sparkDoc = when(col(d) % 5 === 0,
      concat(col("text"), lit(" sorry I cannot help")))
      .otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%5=0 THEN text || ' sorry I cannot help' " +
      "ELSE text END"
    QueryDef("f11_check_ethics_harsh",
      (s, dir) => docs(s, dir)
        .where(Filters.checkEthicsHarsh().keep(sparkDoc))
        .select(col(d)).orderBy(d),
      Some(s"SELECT doc_id FROM documents WHERE NOT " +
        containsAnySql(s"lower($sqlDoc)", WordLists.HarshUnwantedWords) +
        " ORDER BY doc_id"))
  }

  private val f3 = {
    val sparkDoc = when(col(d) % 13 === 0,
      concat(col("text"), lit(" xxx sexy anal"))).otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%13=0 THEN text || ' xxx sexy anal' " +
      "ELSE text END"
    // Python str.count == left-to-right non-overlapping == replace-count.
    // list_sum over a flat list literal — a 403-term `+` chain exceeds
    // DuckDB's binder recursion depth.
    val cntSql = WordLists.NsfwWords.map { w =>
      val cp = w.codePointCount(0, w.length)
      s"(length(doc)-length(replace(doc,${q(w)},'')))//$cp"
    }.mkString("CAST(list_sum([", ",", "]) AS BIGINT)")
    QueryDef("f3_check_nsfw_words",
      (s, dir) => docs(s, dir)
        .select(col(d),
          Filters.checkNsfwWords().score(sparkDoc).as("nsfw_ratio"))
        .orderBy(d),
      Some(s"WITH dd AS (SELECT doc_id, lower($sqlDoc) AS doc FROM documents), " +
        s"cc AS (SELECT doc_id, ($cntSql) AS cnt, ${sqlWords("doc")} AS words " +
        "FROM dd) SELECT doc_id, CASE WHEN words > 0 THEN CAST(cnt AS DOUBLE)" +
        "/words ELSE 0.0 END AS nsfw_ratio FROM cc ORDER BY doc_id"))
  }

  /** F5 oracle: the top-⌊√distinct⌋ char-ngram mass IS SQL-expressible —
    * unnest ngrams → frequencies → descending-rank window → capped top-k
    * mass over total (also pinned by scalatest golden vectors).
    */
  private val f5 = {
    // every 17th doc gets an astral-plane (surrogate-pair) tail —
    // exercises the codepoint-indexed windows on both engines
    val sparkDoc = when(col(d) % 17 === 0, concat(col("text"), lit("😀" * 12)))
      .otherwise(col("text"))
    val sqlDoc = "CASE WHEN doc_id%17=0 THEN text || repeat(" +
      q("😀") + ", 12) ELSE text END"
    QueryDef("f5_check_char_repetition",
      (s, dir) => docs(s, dir)
        .select(col(d), Filters.checkCharRepetition(10).score(sparkDoc)
          .as("char_rep_ratio"))
        .orderBy(d),
      Some(s"WITH src AS (SELECT doc_id, $sqlDoc AS t FROM documents), " +
        OracleSql.charRepetitionCtes("src", Seq("doc_id"), "t", 10) +
        " SELECT d.doc_id, coalesce(r.ratio, 0.0) AS char_rep_ratio " +
        "FROM documents d LEFT JOIN __cr_ratio r USING (doc_id) " +
        "ORDER BY doc_id"))
  }

  val all: Seq[QueryDef] = Seq(
    c1, c2, c3, c4, c5,
    f1, f1score, f3, f4, f5, f6, f7, f8, f9, f10, f11) ++
    QueriesChat.all ++ QueriesPipeline.all ++ QueriesExtra.all ++
    QueriesExtra2.all ++ QueriesExtra3.all ++ QueriesExtra4.all ++
    QueriesExtra5.all ++ QueriesExtra6.all ++ QueriesExtra7.all ++
    QueriesExtra8.all ++ QueriesExtra9.all ++ QueriesExtra10.all ++
    QueriesExtra11.all ++ QueriesArrow.all ++
    QueriesFuzz.all
}
