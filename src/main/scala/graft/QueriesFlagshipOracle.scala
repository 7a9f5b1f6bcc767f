package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Preprocessor
import graft.text.{Cleaners, Filters}

/** The flagship E2E dataflow (main.py:40-75) as TWO fully-oracled twins:
  *
  *  - `flagship_e2e_exact`: EXACT dedup substituted for MinHash — every
  *    stage is then ANSI-SQL-expressible and the whole pipeline gets a
  *    DuckDB hash oracle.
  *  - `flagship_e2e_minhash` (r6): the REAL flagship semantics — MinHash
  *    candidate edges, keep-first by the data-derived mid id
  *    (custkey·2^20 + pos0) — with the edge list materialized so DuckDB
  *    replays the clustering (closure → component-min → keep-first) over
  *    an independently recomputed trunk. A spec additionally asserts this
  *    twin's output row set equals `ChatPipeline.flagship`'s, so the
  *    headline query itself is transitively covered by the oracle.
  */
object QueriesFlagshipOracle {

  /** Flat-row trunk shared by both twins (r3 verdict: the explode-first
    * version carried O(conversation) `input` arrays through clean/filter/
    * window only to render them to ONE string at the end). ONE window pass
    * renders each row's prefix; cleaners + the four response filters run
    * on scalars. Returns rendered rows with `custkey`/`pos0` retained for
    * the mid-id dedup of the minhash twin.
    */
  private def trunk(s: SparkSession, dir: String): DataFrame = {
    val msgs = graft.chat.ChatPipeline.syntheticMessages(s, dir)
    val wAll = Window.partitionBy(col("custkey"))
      .orderBy(col("pos0"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val io = msgs
      .withColumn("__prefix__",
        array_join(collect_list(
          concat_ws(":", col("role"), col("content"), lit("false")))
          .over(wAll), "|"))
      .where(col("do_train"))
      .select(col("custkey"), col("pos0"),
        col("source"), col("role").as("__outrole__"),
        col("__prefix__"), (col("pos0") > 0).as("__hasprefix__"),
        when(col("pos0") > 0, Cleaners.stripWs(col("prev")))
          .otherwise(lit("")).as("instruction"),
        Cleaners.stripWs(col("content")).as("response"))
    val cleaners = Seq(
      "normalize_whitespace" -> Cleaners.normalizeWhitespace,
      "normalize_punctuation" -> Cleaners.normalizePunctuation,
      "remove_empty_lines" -> Cleaners.removeEmptyLines)
    val cleaned = Preprocessor.clean(io, "response", cleaners)
    val filters = Seq(
      Filters.checkWordNumber(5, 128),
      Filters.checkCompletion(),
      Filters.checkCharRepetition(10, 0.2),
      Filters.checkLowercaseRatio(0.75))
    val filtered = Preprocessor.applyFilters(cleaned, "response", filters)
    filtered.withColumn("rendered",
      concat(col("__prefix__"),
        when(col("__hasprefix__"), lit("|")).otherwise(lit("")),
        col("__outrole__"), lit(":"), col("response"), lit(":true")))
  }

  /** Exact-dedup twin: keep-first made engine-independent by ranking
    * inside each `response` group over the total order
    * (source, instruction, rendered) — rows tying on all three are
    * identical in every output column, so either engine's pick hashes
    * the same.
    */
  private def run(s: SparkSession, dir: String): DataFrame = {
    val rendered = trunk(s, dir)
    val w = Window.partitionBy(col("response"))
      .orderBy(col("source"), col("instruction"), col("rendered"))
    val deduped = rendered.withColumn("__rn__", row_number().over(w))
      .where(col("__rn__") === 1).drop("__rn__")
    deduped
      .where(Filters.checkLowercaseRatio(0.55).keep(col("instruction")))
      .select(col("source"), col("rendered"))
      .orderBy("source", "rendered")
  }

  /** MinHash twin: the flagship's own response-dedup config
    * (ngram 5, 256 perms, threshold 0.7) and its own keep-first order
    * (mid = custkey·2^20 + pos0), banded SIGNATURE frame materialized for
    * the oracle (r7 — DuckDB derives the candidate edges itself).
    * Package-visible so the parity spec can compare it against
    * `ChatPipeline.flagship`.
    */
  private[graft] def runMinhash(s: SparkSession, dir: String): DataFrame = {
    import graft.dedup.{Clustering, MinHashConfig, MinHashDedup}
    val rendered = trunk(s, dir)
      .withColumn("__mid__", col("custkey") * (1L << 20) + col("pos0"))
    val cfg = MinHashConfig(ngramSize = 5, numPerm = 256, threshold = 0.7,
      minNgramSize = 5)
    // the id pin holds the rendered trunk: the edge build computes and
    // stores it, and the clustering probe + the final scan read it back
    // (Pin.Held — a lazy local checkpoint that the returned frame owns,
    // freed once that frame is dropped; an earlier localCheckpoint of
    // the output measured ~1s of copy at sf0.1). The banded export
    // (first run per JVM) computes the trunk apart.
    val path =
      QueriesExtra2.bandedPath("flagship", QueriesExtra2.scaleKey(dir))
    SideChannel.exportOnce(path)(
      MinHashDedup.bandedFrame(rendered, "response", cfg, Some("__mid__")))
    Clustering.run(rendered, Some("__mid__"), 10000000L, Clustering.Pin.Held)(
        (withId, sink) => MinHashDedup.candidateEdges(withId, "response",
          cfg, sink))(_.keep(_))
      .where(Filters.checkLowercaseRatio(0.55).keep(col("instruction")))
      .select(col("source"), col("rendered"))
      .orderBy("source", "rendered")
  }

  /** Shared oracle CTE chain: synthesize conversations → prefix-explode →
    * clean → the four response filters, ending in `fio` (one row per
    * surviving trained message with o_custkey/pos available for mid ids).
    */
  private val trunkCtes: String = {
    import OracleSql._
    val content = "'please handle ' || lower(o_orderpriority) || " +
      "' order number ' || (o_orderkey % 1000) || ' with care.'"
    val cleanedResp = removeEmptyLines(normalizePunctuation(
      normalizeWhitespace(strip("conversation[pos].content"))))
    "WITH conv AS (SELECT o_custkey, list(struct_pack(content := " +
      content + ", do_train := (o_orderkey % 2 = 0), role := CASE WHEN " +
      "o_orderkey % 2 = 0 THEN 'Assistant' ELSE 'User' END) ORDER BY " +
      "o_orderkey) AS conversation, 'synthetic/' || (o_custkey % 20) AS " +
      "source FROM orders GROUP BY o_custkey), " +
      "io AS (SELECT o_custkey, pos, source, CASE WHEN pos > 1 THEN " +
      strip("conversation[pos-1].content") + " ELSE '' END AS instruction, " +
      cleanedResp + " AS response, conversation[pos].role AS out_role, " +
      "coalesce(array_to_string(list_transform(conversation[1:pos-1], " +
      "m -> m.role || ':' || m.content || ':false'), '|'), '') AS prefix, " +
      "(pos > 1) AS has_prefix FROM conv, LATERAL (SELECT unnest(" +
      "generate_series(1, len(conversation))) AS pos) g " +
      "WHERE conversation[pos].do_train), " +
      "io2 AS (SELECT *, prefix || (CASE WHEN has_prefix THEN '|' ELSE '' " +
      "END) || out_role || ':' || response || ':true' AS rendered FROM io), " +
      "src AS (SELECT o_custkey, pos, response AS t FROM io2), " +
      charRepetitionCtes("src", Seq("o_custkey", "pos"), "t", 10) + ", " +
      "fio AS (SELECT io2.* FROM io2 LEFT JOIN __cr_ratio r USING " +
      "(o_custkey, pos) WHERE " + wordCount("response") +
      " BETWEEN 5 AND 128 AND " + completionKeep("response") +
      " AND coalesce(r.ratio, 0.0) <= 0.2 AND " +
      lowercaseRatio("response") + " >= 0.75)"
  }

  private val oracle: String = {
    import OracleSql._
    trunkCtes + ", " +
      "ded AS (SELECT *, row_number() OVER (PARTITION BY response ORDER " +
      "BY source, instruction, rendered) AS rn FROM fio) " +
      "SELECT source, rendered FROM ded WHERE rn = 1 AND " +
      lowercaseRatio("instruction") + " >= 0.55 ORDER BY source, rendered"
  }

  /** Shared minhash-clustering oracle over the recomputed trunk: the
    * banded signature frame (keyed by mid) is the ONLY side-channel input;
    * candidate edges (bucket-min per (band, bsig)), identical/short-class
    * star edges (from the trunk's own responses), closure and keep-first
    * are all DuckDB's. Used by both the twin and (r7) the headline
    * `flagship_chat_pipeline` itself, each against its own export.
    */
  private def minhashOracleSql(variant: String): String = {
    import OracleSql._
    val glob = QueriesExtra2
      .bandedPath(variant, QueriesExtra2.OracleScaleKey) + "/*.parquet"
    // RECURSIVE must follow WITH; the trunk CTEs lead, the signature-
    // derived clustering CTEs (which need the trunk's dsrc) follow
    "WITH RECURSIVE " + trunkCtes.stripPrefix("WITH ") + ", " +
      "m AS (SELECT fio.*, o_custkey * 1048576 + (pos - 1) AS mid " +
      "FROM fio), " +
      "dsrc AS (SELECT mid AS id, response AS t FROM m), " +
      QueriesExtra2.minhashCtes(glob, 5) + " " +
      "SELECT source, rendered FROM m LEFT JOIN root r ON m.mid = r.id " +
      "WHERE (r.root IS NULL OR r.root = m.mid) AND " +
      lowercaseRatio("instruction") + " >= 0.55 ORDER BY source, rendered"
  }

  /** Oracle for the HEADLINE query (`flagship_chat_pipeline`): identical
    * trunk/cluster replay as the twin's, reading the headline's own banded
    * export. The headline renders via the chatml arrays and the oracle via
    * string concat, but both produce `prefix|role:response:true` — the r6
    * parity spec that proved that equivalence is retained as defense in
    * depth.
    */
  private[graft] val flagshipMainOracle: String =
    minhashOracleSql("flagship_main")

  val flagshipOracle: QueryDef =
    QueryDef("flagship_e2e_exact", run, Some(oracle))

  val flagshipOracleMinhash: QueryDef =
    QueryDef("flagship_e2e_minhash", runMinhash,
      Some(minhashOracleSql("flagship")))
}
