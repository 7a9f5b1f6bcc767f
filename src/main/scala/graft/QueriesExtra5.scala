package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sampling.Mixture
import graft.scoring.NaiveBayes

/** Round-8 additions: the trained-classifier stage (multinomial NB
  * lang-id — the CCNet/fastText/DCLM archetype) and token-budget mixture
  * construction (LLaMA/Dolma-style data mixing).
  *
  * The lang column is label-only in the synthetic corpus (every text is
  * the same English word soup), so the classifier queries inject
  * lang-correlated marker tokens with per-doc repetition IDENTICALLY in
  * Spark and DuckDB — house style: the oracle compares the full
  * train-and-score transform over text that actually discriminates.
  */
object QueriesExtra5 {

  private val d = "doc_id"

  /** Top-V = every base-soup token (31) plus the five markers — the
    * truncation path still executes (TakeOrdered top-V); truncation
    * SEMANTICS are pinned by ClassifierSpec's hand corpus.
    */
  private val VocabV = 36

  private val Markers = Seq(
    "en" -> "hellomark", "zh" -> "zhongwen", "es" -> "holamark",
    "de" -> "deutschwort", "fr" -> "bonjourmark")

  /** text || repeat(' ' || marker(lang), doc_id % 3 + 1) on both engines. */
  private def docExprSpark: Column = {
    val marker = Markers.init.foldLeft(null: Column) { case (acc, (l, m)) =>
      if (acc == null) when(col("lang") === l, lit(m))
      else acc.when(col("lang") === l, lit(m))
    }.otherwise(lit(Markers.last._2))
    val unit = concat(lit(" "), marker)
    concat(col("text"), element_at(
      array(unit, concat(unit, unit), concat(unit, unit, unit)),
      (col(d) % 3 + 1).cast("int")))
  }

  private val docExprSql: String = {
    val cases = Markers.init.map { case (l, m) => s"WHEN '$l' THEN '$m'" }
      .mkString(" ")
    s"text || repeat(' ' || CASE lang $cases ELSE '${Markers.last._2}' END, " +
      s"(doc_id % 3 + 1)::INT)"
  }

  private val TokSql = "regexp_extract_all(lower(t), '[\\p{L}\\p{N}_]+')"

  /** NB training artifact — all-integer dense grid, recomputed from the
    * raw corpus by DuckDB: tokenize, document frequencies, top-V vocab
    * (df desc, token asc), per-(label, token) counts, marginals.
    */
  val nbTrainCounts: QueryDef = QueryDef("nb_train_counts",
    (s, dir) => NaiveBayes.trainCounts(
      Queries.table(s, dir, "documents").withColumn("_doc", docExprSpark),
      "_doc", "lang", VocabV)
      .orderBy("token", "label"),
    Some(s"WITH d AS (SELECT doc_id, lang, $docExprSql AS t FROM documents), " +
      s"tk AS (SELECT doc_id, lang, unnest($TokSql) AS token FROM d), " +
      "dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tk GROUP BY token), " +
      s"voc AS (SELECT token, df FROM dfq ORDER BY df DESC, token LIMIT $VocabV), " +
      "cnts AS (SELECT tk.lang AS label, tk.token, count(*) AS cnt " +
      "FROM tk JOIN voc USING (token) GROUP BY 1, 2), " +
      "tot AS (SELECT label, sum(cnt) AS tok_total FROM cnts GROUP BY label), " +
      "lbl AS (SELECT lang AS label, count(*) AS n_docs FROM documents GROUP BY 1) " +
      "SELECT v.token, l.label, coalesce(c.cnt, 0) AS cnt, v.df, " +
      "CAST(coalesce(t.tok_total, 0) AS BIGINT) AS tok_total, l.n_docs " +
      "FROM voc v CROSS JOIN lbl l " +
      "LEFT JOIN cnts c ON c.token = v.token AND c.label = l.label " +
      "LEFT JOIN tot t ON t.label = l.label " +
      "ORDER BY v.token, l.label"))

  private def nbPath(key: String) = s"/tmp/graft_nb_model_$key"

  /** Train-and-score: the integer-quantized model is the side-channel
    * (exported once per JVM+scale, like the F2 ARPA dump); DuckDB replays
    * scoring from it — tokenize, vocab join (OOV drops out; the appended
    * `zzunseen` token exercises that on both engines), exact integer
    * score sums, argmax with the label-ascending tie-break, margin to the
    * runner-up. Only the ln() quantization itself is not re-derived in
    * SQL (cross-libm last-ulp risk); it is pinned by ClassifierSpec.
    */
  val nbPredict: QueryDef = QueryDef("nb_predict_lang",
    (s, dir) => {
      val withDoc = Queries.table(s, dir, "documents")
        .withColumn("_doc", docExprSpark)
      val model = NaiveBayes.train(withDoc, "_doc", "lang", VocabV)
      val key = QueriesExtra2.scaleKey(dir)
      val (wDf, pDf) = NaiveBayes.modelFrames(s, model)
      SideChannel.through(wDf,
        SideChannel.once(nbPath(key) + "/weights"))
      SideChannel.through(pDf,
        SideChannel.once(nbPath(key) + "/priors"))
      // r19: fused tokenize+score kernel — same integer sums as predict
      // with the default featurizer (ClassifierSpec differential)
      NaiveBayes.predictTokens(
        withDoc.withColumn("_scored", concat(col("_doc"), lit(" zzunseen"))),
        model, col("_scored"))
        .select(col(d), col("nb_label"), col("nb_score_micro"),
          col("nb_margin_micro"))
        .orderBy(d)
    },
    Some {
      val base = nbPath(QueriesExtra2.OracleScaleKey)
      s"WITH w AS (SELECT * FROM parquet_scan('$base/weights/*.parquet')), " +
        s"p AS (SELECT * FROM parquet_scan('$base/priors/*.parquet')), " +
        s"d AS (SELECT doc_id, $docExprSql || ' zzunseen' AS t FROM documents), " +
        s"tk AS (SELECT doc_id, unnest($TokSql) AS token FROM d), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2), " +
        "sc AS (SELECT tf.doc_id, w.label, sum(tf.tf * w.lp_micro) AS sw " +
        "FROM tf JOIN w USING (token) GROUP BY 1, 2), " +
        "al AS (SELECT d.doc_id, p.label, p.prior_micro + coalesce(sc.sw, 0) " +
        "AS score FROM d CROSS JOIN p " +
        "LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.label = p.label), " +
        "rk AS (SELECT doc_id, label, score, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn, " +
        "lead(score) OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS nxt " +
        "FROM al) " +
        "SELECT doc_id, label AS nb_label, CAST(score AS BIGINT) AS nb_score_micro, " +
        "CAST(score - coalesce(nxt, score) AS BIGINT) AS nb_margin_micro " +
        "FROM rk WHERE rn = 1 ORDER BY doc_id"
    })

  private def nbCgramPath(key: String) = s"/tmp/graft_nb_cgram_$key"

  /** Char-[2,4]-gram vocabulary budget: the soup corpus + markers yield
    * well over this many distinct grams, so the TakeOrdered top-V
    * truncation path executes here too.
    */
  private val CgramV = 400

  private val cgramFeat: Column => Column =
    c => NaiveBayes.charGramsCol(c, 2, 4)

  /** Char-n-gram NB variant (VERDICT r8 #8): the CCNet-style lang-id
    * feature set over the SAME integer micro-nat pipeline — word-token NB
    * falls back to priors on OOV-heavy short docs, char grams do not
    * (ClassifierSpec proves the margin separation on multiscript
    * fragments). Same oracle pattern as `nb_predict_lang`: the quantized
    * model is the side-channel, DuckDB re-extracts the char grams (a
    * position x width list expansion — substr is code-point-based on both
    * engines) and replays the exact integer scoring.
    */
  val nbPredictCgram: QueryDef = QueryDef("nb_predict_chargram",
    (s, dir) => {
      val withDoc = Queries.table(s, dir, "documents")
        .withColumn("_doc", docExprSpark)
      // r19: char-gram term counts via the one-scan DFA kernel — the
      // haystack is exactly the lower(_doc) the featurizer grams over —
      // and the dfreq pass extracts each doc's distinct grams in one
      // fused pass instead of materializing duplicates for array_distinct
      val model = NaiveBayes.train(withDoc, "_doc", "lang", CgramV,
        cgramFeat, substringHaystack = Some(lower(col("_doc"))),
        distinctFeatures = Some(c => NaiveBayes.charGramsDistinctCol(c, 2, 4)))
      val key = QueriesExtra2.scaleKey(dir)
      val (wDf, pDf) = NaiveBayes.modelFrames(s, model)
      SideChannel.through(wDf,
        SideChannel.once(nbCgramPath(key) + "/weights"))
      SideChannel.through(pDf,
        SideChannel.once(nbCgramPath(key) + "/priors"))
      // r19: scoring via one DFA scan of the same lowercased haystack the
      // gram featurizer reads — identical integer sums (ClassifierSpec
      // pins predictSubstring == predict on this featurizer)
      NaiveBayes.predictSubstring(
        withDoc.withColumn("_scored", concat(col("_doc"), lit(" zzunseen"))),
        model, lower(col("_scored")))
        .select(col(d), col("nb_label"), col("nb_score_micro"),
          col("nb_margin_micro"))
        .orderBy(d)
    },
    Some {
      val base = nbCgramPath(QueriesExtra2.OracleScaleKey)
      s"WITH w AS (SELECT * FROM parquet_scan('$base/weights/*.parquet')), " +
        s"p AS (SELECT * FROM parquet_scan('$base/priors/*.parquet')), " +
        s"d AS (SELECT doc_id, lower($docExprSql || ' zzunseen') AS lt " +
        "FROM documents), " +
        "tk AS (SELECT doc_id, unnest(flatten(list_transform(range(2, 5), " +
        "n -> list_transform(range(1, greatest(length(lt) - n + 2, 1)), " +
        "i -> substr(lt, i::INT, n::INT))))) AS token FROM d), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2), " +
        "sc AS (SELECT tf.doc_id, w.label, sum(tf.tf * w.lp_micro) AS sw " +
        "FROM tf JOIN w USING (token) GROUP BY 1, 2), " +
        "al AS (SELECT d.doc_id, p.label, p.prior_micro + coalesce(sc.sw, 0) " +
        "AS score FROM d CROSS JOIN p " +
        "LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.label = p.label), " +
        "rk AS (SELECT doc_id, label, score, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS rn, " +
        "lead(score) OVER (PARTITION BY doc_id ORDER BY score DESC, label) AS nxt " +
        "FROM al) " +
        "SELECT doc_id, label AS nb_label, CAST(score AS BIGINT) AS nb_score_micro, " +
        "CAST(score - coalesce(nxt, score) AS BIGINT) AS nb_margin_micro " +
        "FROM rk WHERE rn = 1 ORDER BY doc_id"
    })

  /** Static per-source token budgets: 500/900/1300/1700 cycling, so at
    * sf0.01 (source masses 1136-1553) some sources truncate, some keep
    * everything, and the plan sees both epoch-0 and epoch-1 shapes.
    */
  private val MixBudgets: Map[String, Long] =
    (0 until 20).map(k => s"src$k" -> (500L + 400L * (k % 4))).toMap

  private val mixValuesSql: String = MixBudgets.toSeq.sortBy(_._1)
    .map { case (src, b) => s"('$src', $b)" }.mkString(", ")

  private val wordLenSql =
    "len(regexp_extract_all(lower(text), '[\\p{L}\\p{N}_]+'))"

  val mixPlan: QueryDef = QueryDef("mix_token_plan",
    (s, dir) => Mixture.tokenBudgetPlan(
      Queries.table(s, dir, "documents"), "source",
      graft.text.Filters.wordCount(col("text")), MixBudgets)
      .orderBy("source"),
    Some(s"WITH b(source, budget) AS (VALUES $mixValuesSql), " +
      "t AS (SELECT source, count(*) AS n_docs, " +
      s"CAST(sum($wordLenSql) AS BIGINT) AS total_tokens " +
      "FROM documents GROUP BY source) " +
      "SELECT t.source, n_docs, total_tokens, CAST(budget AS BIGINT) AS budget, " +
      "CAST(budget // total_tokens AS BIGINT) AS full_epochs, " +
      "CAST(budget % total_tokens AS BIGINT) AS remainder_tokens " +
      "FROM t JOIN b USING (source) ORDER BY source"))

  val mixSelect: QueryDef = QueryDef("mix_token_budget",
    (s, dir) => Mixture.tokenBudgetSelect(
      Queries.table(s, dir, "documents"), d, "source",
      graft.text.Filters.wordCount(col("text")), MixBudgets, seed = 7L)
      .select(col(d), col("source"), col("toks"), col("cum_tokens"))
      .orderBy(d),
    Some(s"WITH b(source, budget) AS (VALUES $mixValuesSql), " +
      s"t AS (SELECT doc_id, source, $wordLenSql AS toks FROM documents), " +
      "c AS (SELECT t.doc_id, t.source, t.toks, b.budget, " +
      "CAST(sum(t.toks) OVER (PARTITION BY t.source ORDER BY " +
      "md5('7:' || CAST(t.doc_id AS VARCHAR)), t.doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens " +
      "FROM t JOIN b USING (source)) " +
      "SELECT doc_id, source, toks, cum_tokens FROM c " +
      "WHERE cum_tokens <= budget ORDER BY doc_id"))

  /** TOKENIZER-TRUE budget fill (VERDICT r11 #4 / r12 #5): the same
    * deterministic greedy mixture as `mix_token_budget`, but priced in
    * TRAINED-BPE tokens — `Bpe.encode`'s per-doc totals joined in by id
    * ([[Mixture.tokenBudgetSelectCounted]]) — instead of the whitespace
    * word proxy. The oracle replays the per-doc totals from the SAME
    * per-word side-channel `bpe_encode_tokens` exports (the merge-apply
    * loop is the one step DuckDB does not re-derive; document totals,
    * budget fill, md5 order and the running sum are all SQL). Budgets
    * sit 4× the word-proxy ones: BPE piece counts run ~2-4× word counts
    * on this corpus, keeping the same some-truncate/some-keep-all mix.
    */
  private val MixBudgetsBpe: Map[String, Long] =
    (0 until 20).map(k => s"src$k" -> (2000L + 1600L * (k % 4))).toMap

  val mixSelectBpe: QueryDef = QueryDef("mix_token_budget_bpe",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      val model = graft.text.Bpe.train(docs, "text", numMerges = 40,
        maxWords = 200)
      val key = QueriesExtra2.scaleKey(dir)
      SideChannel.through(
        graft.text.Bpe.wordEncodings(s, docs, model, "text"),
        SideChannel.once(bpePath(key)))
      val counts = graft.text.Bpe.encode(docs, model, "text")
        .select(col(d), col("n_bpe_tokens"))
      Mixture.tokenBudgetSelectCounted(docs, d, "source", counts,
        MixBudgetsBpe, seed = 11L)
        .select(col(d), col("source"), col("toks"), col("cum_tokens"))
        .orderBy(d)
    },
    Some {
      val p = bpePath(QueriesExtra2.OracleScaleKey) + "/*.parquet"
      val valuesSql = MixBudgetsBpe.toSeq.sortBy(_._1)
        .map { case (src, b) => s"('$src', $b)" }.mkString(", ")
      s"WITH we AS (SELECT * FROM parquet_scan('$p')), " +
        "t0 AS (SELECT doc_id, regexp_extract_all(lower(text), " +
        "'[\\p{L}\\p{N}_]+') AS ws FROM documents), " +
        "tok AS (SELECT doc_id, i, ws[i] AS w FROM t0, LATERAL " +
        "(SELECT unnest(generate_series(1, len(ws))) AS i) g), " +
        "j AS (SELECT tok.doc_id, we.n_toks FROM tok " +
        "JOIN we ON we.word = tok.w), " +
        "agg AS (SELECT doc_id, CAST(sum(n_toks) AS BIGINT) AS toks " +
        "FROM j GROUP BY doc_id), " +
        "t AS (SELECT d.doc_id, d.source, " +
        "coalesce(a.toks, 0) AS toks FROM documents d " +
        "LEFT JOIN agg a USING (doc_id)), " +
        s"b(source, budget) AS (VALUES $valuesSql), " +
        "c AS (SELECT t.doc_id, t.source, t.toks, b.budget, " +
        "CAST(sum(t.toks) OVER (PARTITION BY t.source ORDER BY " +
        "md5('11:' || CAST(t.doc_id AS VARCHAR)), t.doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS cum_tokens FROM t JOIN b USING (source)) " +
        "SELECT doc_id, source, toks, cum_tokens FROM c " +
        "WHERE cum_tokens <= budget ORDER BY doc_id"
    })

  /** Corpus data card: per-(source x lang) cells + all margins in ONE
    * CUBE pass (Expand → one partially-aggregated shuffle). All-integer
    * aggregates; `grp` = grouping_id so rolled-up NULLs are explicit.
    */
  val corpusCard: QueryDef = QueryDef("corpus_card",
    (s, dir) => graft.analysis.CorpusStats.corpusCard(
      Queries.table(s, dir, "documents"), "source", "lang",
      graft.text.Filters.wordCount(col("text")))
      .orderBy("grp", "source", "lang"),
    Some(s"SELECT source, lang, count(*) AS n_docs, " +
      s"CAST(sum(toks) AS BIGINT) AS total_tokens, " +
      "min(toks) AS min_tokens, max(toks) AS max_tokens, " +
      "CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS grp " +
      s"FROM (SELECT source, lang, $wordLenSql AS toks FROM documents) " +
      "GROUP BY CUBE (source, lang) ORDER BY grp, source, lang"))

  private def bpePath(key: String) = s"/tmp/graft_bpe_words_$key"

  /** BPE trainer + encoder: one word-count shuffle, driver merge loop
    * over the bounded dictionary, closure-model encode. The per-word
    * encoding table is the side-channel (the merge-apply loop is the one
    * step DuckDB does not re-derive; BpeSpec pins it with hand-derived
    * Sennrich-corpus goldens) — document assembly (tokenize, per-word
    * lookup, ORDER BY position reassembly, token totals) is replayed in
    * SQL from that frame.
    */
  val bpeEncode: QueryDef = QueryDef("bpe_encode_tokens",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      val model = graft.text.Bpe.train(docs, "text", numMerges = 40,
        maxWords = 200)
      val key = QueriesExtra2.scaleKey(dir)
      SideChannel.through(
        graft.text.Bpe.wordEncodings(s, docs, model, "text"),
        SideChannel.once(bpePath(key)))
      graft.text.Bpe.encode(docs, model, "text")
        .select(col(d), col("n_bpe_tokens"), col("bpe_text"))
        .orderBy(d)
    },
    Some {
      val p = bpePath(QueriesExtra2.OracleScaleKey) + "/*.parquet"
      s"WITH we AS (SELECT * FROM parquet_scan('$p')), " +
        "t AS (SELECT doc_id, regexp_extract_all(lower(text), " +
        "'[\\p{L}\\p{N}_]+') AS ws FROM documents), " +
        "tok AS (SELECT doc_id, i, ws[i] AS w FROM t, LATERAL " +
        "(SELECT unnest(generate_series(1, len(ws))) AS i) g), " +
        "j AS (SELECT tok.doc_id, tok.i, we.bpe, we.n_toks " +
        "FROM tok JOIN we ON we.word = tok.w), " +
        "agg AS (SELECT doc_id, CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens, " +
        "string_agg(bpe, ' ' ORDER BY i) AS bpe_text FROM j GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens, " +
        "coalesce(a.bpe_text, '') AS bpe_text " +
        "FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"
    })

  /** CC-style canonical-URL dedup (the key-level dedup that runs BEFORE
    * content dedup): every doc gets a synthetic URL whose scheme/host
    * case, www prefix, default port, trailing slash, tracking params and
    * fragment vary by doc_id, so canonicalization genuinely collapses
    * groups; keep = first doc_id per canonical key (one window shuffle).
    * The oracle replays the ENTIRE normalization chain step for step —
    * the chain is deliberately backreference-free so Spark and RE2 SQL
    * spell it identically.
    */
  val urlCanonical: QueryDef = QueryDef("dedup_url_canonical",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val urlCol = concat(
        element_at(array(lit("https://"), lit("HTTPS://")),
          (col(d) % 2 + 1).cast("int")),
        element_at(array(lit("example.com"), lit("WWW.Example.com"),
          lit("www.example.com:443"), lit("EXAMPLE.com:80")),
          (col(d) % 4 + 1).cast("int")),
        element_at(array(lit("/a"), lit("/a/"), lit("/b")),
          (col(d) % 3 + 1).cast("int")),
        element_at(array(lit(""), lit("?utm_source=x"),
          lit("?utm_source=x&id=Q"), lit("?id=Q"),
          lit("?id=Q&utm_campaign=z&fbclid=F"), lit("?ref=tw")),
          (col(d) % 6 + 1).cast("int")),
        when(col(d) % 5 === 0, lit("#sec")).otherwise(lit("")))
      Queries.table(s, dir, "documents")
        .select(col(d), urlCol.as("url"))
        .withColumn("canon_url",
          graft.analysis.Urls.canonicalUrl(col("url")))
        .withColumn("kept",
          col(d) === min(col(d)).over(Window.partitionBy("canon_url")))
        .orderBy(d)
    },
    Some {
      val urlSql = "(['https://', 'HTTPS://'])[(doc_id%2+1)::INT] || " +
        "(['example.com', 'WWW.Example.com', 'www.example.com:443', " +
        "'EXAMPLE.com:80'])[(doc_id%4+1)::INT] || " +
        "(['/a', '/a/', '/b'])[(doc_id%3+1)::INT] || " +
        "(['', '?utm_source=x', '?utm_source=x&id=Q', '?id=Q', " +
        "'?id=Q&utm_campaign=z&fbclid=F', '?ref=tw'])[(doc_id%6+1)::INT] || " +
        "(CASE WHEN doc_id%5=0 THEN '#sec' ELSE '' END)"
      s"WITH u AS (SELECT doc_id, $urlSql AS url FROM documents), " +
        "s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM u), " +
        "s2 AS (SELECT *, regexp_extract(nofrag, '(?i)^https?://[^/?#]*', 0) AS head FROM s1), " +
        "s3 AS (SELECT *, substr(nofrag, length(head)+1) AS rest, " +
        "regexp_replace(replace(lower(head), '://www.', '://'), ':(80|443)$', '') AS host FROM s2), " +
        "s4 AS (SELECT *, regexp_extract(rest, '^[^?]*', 0) AS path, " +
        "regexp_extract(rest, '^[^?]*\\?(.*)$', 1) AS query FROM s3), " +
        "s5 AS (SELECT doc_id, url, host || regexp_replace(path, '/$', '') || " +
        "CASE WHEN qf = '' THEN '' ELSE '?' || qf END AS canon_url FROM " +
        // DuckDB array_to_string(EMPTY_LIST) is NULL where Spark's
        // array_join gives '' — the no-surviving-params case must
        // coalesce or the whole canon key goes NULL
        "(SELECT *, coalesce(array_to_string(list_filter(string_split(query, '&'), " +
        "p -> p <> '' AND NOT regexp_matches(p, " +
        "'^(utm_[A-Za-z]+|fbclid|gclid|ref)=')), '&'), '') AS qf FROM s4)) " +
        "SELECT doc_id, url, canon_url, " +
        "doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS kept " +
        "FROM s5 ORDER BY doc_id"
    })

  val all: Seq[QueryDef] = Seq(nbTrainCounts, nbPredict, nbPredictCgram,
    mixPlan, mixSelect, mixSelectBpe, corpusCard, bpeEncode, urlCanonical)
}
