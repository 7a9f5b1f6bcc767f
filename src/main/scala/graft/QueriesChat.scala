package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.Preprocessor
import graft.text.{Cleaners, Filters}
import graft.text.Cleaners.stripWs

/** Chat-pipeline oracle queries: conversation restructuring (SURVEY
  * §2.2), the reference's pipeline meta-operators and projection
  * surfaces (§2.1, R6-R10, P3/P7/P8/P12), and the flagship E2E chat
  * pipeline with its two fully-oracled twins. The conversation corpus is
  * built deterministically from `orders` (one conversation per customer,
  * messages in orderkey order) with the IDENTICAL construction in Spark
  * and DuckDB, then each operator's full transform is hash-compared.
  * Array/struct outputs are rendered to strings for stable cross-engine
  * hashing.
  */
object QueriesChat {

  /** Spark side of the shared corpus: conversation(content, do_train, role)
    * per o_custkey.
    */
  private def conv(s: SparkSession, dir: String): DataFrame = {
    val orders = Queries.table(s, dir, "orders")
    val msg = struct(
      concat(col("o_orderpriority"), lit(" "), col("o_orderstatus"),
        lit(" key "), col("o_orderkey") % 100).as("content"),
      (col("o_orderkey") % 2 === 0).as("do_train"),
      when(col("o_orderkey") % 2 === 0, lit("Assistant"))
        .otherwise(lit("User")).as("role"))
    orders.groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(struct(col("o_orderkey").as("k"),
        msg.as("m")))).as("km"))
      .select(col("o_custkey"),
        transform(col("km"), x => x.getField("m")).as("conversation"))
  }

  /** DuckDB side of the shared corpus. */
  private val convSql =
    "SELECT o_custkey, list(struct_pack(content := o_orderpriority || ' ' " +
      "|| o_orderstatus || ' key ' || (o_orderkey%100), do_train := " +
      "(o_orderkey%2=0), role := CASE WHEN o_orderkey%2=0 THEN 'Assistant' " +
      "ELSE 'User' END) ORDER BY o_orderkey) AS conversation " +
      "FROM orders GROUP BY o_custkey"

  /** R1+R2: prefix-explode to (instruction, response) scalars. */
  val r1r2: QueryDef = QueryDef("r1_r2_explode_io",
    (s, dir) => conv(s, dir)
      .select(col("o_custkey"), col("conversation"),
        posexplode(col("conversation")).as(Seq("pos0", "msg")))
      .where(col("msg.do_train"))
      .select(col("o_custkey"), (col("pos0") + 1).as("pos"),
        when(col("pos0") > 0,
          stripWs(element_at(col("conversation"), col("pos0"))
            .getField("content"))).otherwise(lit("")).as("instruction"),
        stripWs(col("msg.content")).as("response"))
      .orderBy("o_custkey", "pos"),
    Some(s"WITH conv AS ($convSql) SELECT o_custkey, i AS pos, " +
      "CASE WHEN i>1 THEN " + OracleSql.strip("conversation[i-1].content") +
      " ELSE '' END AS instruction, " +
      OracleSql.strip("conversation[i].content") + " AS response " +
      "FROM conv, LATERAL (SELECT unnest(generate_series(1, " +
      "len(conversation))) AS i) g WHERE conversation[i].do_train " +
      "ORDER BY o_custkey, pos"))

  /** R3: chatml reassembly (prefix do_train→false + appended trained
    * message), rendered role:content:do_train joined by '|'.
    */
  val r3: QueryDef = QueryDef("r3_chatml",
    (s, dir) => {
      val io = conv(s, dir)
        .select(col("o_custkey"), col("conversation"),
          posexplode(col("conversation")).as(Seq("pos0", "msg")))
        .where(col("msg.do_train"))
        .select(col("o_custkey"), (col("pos0") + 1).as("pos"),
          slice(col("conversation"), lit(1), col("pos0")).as("input"),
          col("msg").as("output"),
          stripWs(col("msg.content")).as("response"))
      val chatml = concat(
        transform(col("input"), m => struct(
          m.getField("content").as("content"), lit(false).as("do_train"),
          m.getField("role").as("role"))),
        array(struct(col("response").as("content"), lit(true).as("do_train"),
          col("output.role").as("role"))))
      io.select(col("o_custkey"), col("pos"),
        array_join(transform(chatml, m => concat_ws(":",
          m.getField("role"), m.getField("content"),
          m.getField("do_train").cast("string"))), "|").as("rendered"))
        .orderBy("o_custkey", "pos")
    },
    Some(s"WITH conv AS ($convSql) SELECT o_custkey, i AS pos, " +
      "coalesce(array_to_string(list_transform(conversation[1:i-1], " +
      "m -> m.role || ':' || m.content || ':false'), '|'), '') || " +
      "(CASE WHEN i>1 THEN '|' ELSE " +
      s"'' END) || conversation[i].role || ':' || " +
      s"${OracleSql.strip("conversation[i].content")} || ':true' AS rendered " +
      "FROM conv, LATERAL (SELECT unnest(generate_series(1, " +
      "len(conversation))) AS i) g WHERE conversation[i].do_train " +
      "ORDER BY o_custkey, pos"))

  /** R5: dedup text prep — blank-line-joined trained contents, stripped. */
  val r5: QueryDef = QueryDef("r5_dedup_prep",
    (s, dir) => conv(s, dir)
      .select(col("o_custkey"),
        graft.chat.Conversations.dedupText(col("conversation")).as("text"))
      .orderBy("o_custkey"),
    Some(s"WITH conv AS ($convSql) SELECT o_custkey, " +
      OracleSql.strip("coalesce(array_to_string(list_transform(list_filter(" +
        "conversation, m -> m.do_train), m -> m.content), " +
        "chr(10)||chr(10)), '')") +
      " AS text FROM conv ORDER BY o_custkey"))

  /** R4: seeded full shuffle — now the engine-independent md5-keyed
    * permutation ([[graft.chat.Conversations.shuffleSeeded]]), so the
    * whole permutation (not just the row set) is DuckDB-hash-checked.
    * The rank window is single-partition — a harness materialization of
    * the order for comparison, not the operator (the operator is a plain
    * distributed sort).
    */
  val r4: QueryDef = QueryDef("r4_shuffle_seeded",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(
        md5(concat(lit("42:"), col("doc_id").cast("string"))), col("doc_id"))
      graft.chat.Conversations
        .shuffleSeeded(Queries.table(s, dir, "documents"), 42, col("doc_id"))
        .withColumn("shuffle_rank", row_number().over(w).cast("long"))
        .select("doc_id", "shuffle_rank")
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, CAST(row_number() OVER (ORDER BY " +
      "md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS " +
      "shuffle_rank FROM documents ORDER BY doc_id"))

  /** S3 `combine_datasets`: union N sources tagging origin (main.py:78-87).
    * Two "datasets" carved from documents, source column added when absent.
    */
  val s3: QueryDef = QueryDef("s3_combine_datasets",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      val d1 = docs.where(col("doc_id") % 3 === 0).select("doc_id", "text")
        .withColumn("source", lit("ds/alpha"))
      val d2 = docs.where(col("doc_id") % 3 === 1).select("doc_id", "text")
        .withColumn("source", lit("ds/beta"))
      d1.unionByName(d2).orderBy("doc_id")
    },
    Some("SELECT doc_id, text, 'ds/alpha' AS source FROM documents WHERE " +
      "doc_id%3=0 UNION ALL SELECT doc_id, text, 'ds/beta' FROM documents " +
      "WHERE doc_id%3=1 ORDER BY doc_id"))

  /** R6/R7 edit-dataset projection surface — utils.py:178-194: rename
    * model_input→input_text, edited_response→output_text, keep-set
    * projection.
    */
  val r6r7: QueryDef = QueryDef("r6_r7_edit_prep",
    (s, dir) => {
      val raw = Queries.table(s, dir, "orders").select(
        col("o_custkey").as("user_id"),
        col("o_orderpriority").as("model_input"),
        col("o_orderstatus").as("edited_response"),
        col("o_orderdate").cast("string").as("response"),
        col("o_totalprice").as("extraneous"))
      val prepped = graft.pipeline.Renames.prepareEditDataset(raw)
      graft.pipeline.Renames.removeUnusedColumns(prepped)
        .orderBy("user_id", "input_text", "output_text")
    },
    Some("SELECT o_custkey AS user_id, o_orderpriority AS input_text, " +
      "o_orderstatus AS output_text FROM orders " +
      "ORDER BY user_id, input_text, output_text"))

  /** R8 `add_concatenated_column` + R9 `post_process_output_text`
    * (utils.py:296-301, 197-202).
    */
  val r8r9: QueryDef = QueryDef("r8_r9_concat_postprocess",
    (s, dir) => {
      val df = Queries.table(s, dir, "part").select(
        col("p_partkey"),
        col("p_name").as("response"),
        col("p_type").as("output_text"))
      graft.pipeline.Renames.postProcessOutputText(
        graft.pipeline.Renames.addConcatenatedColumn(df, "merged", "<|tok|>"))
        .orderBy("p_partkey")
    },
    Some("SELECT p_partkey, p_name AS response, ' ' || " +
      "replace(" + OracleSql.strip("p_type") + ", chr(10), '')" +
      " || chr(10) AS output_text, p_name || '<|tok|>' || p_type AS merged " +
      "FROM part ORDER BY p_partkey"))

  /** R10 contiguous row ids over a pinned order (preprocessor.py:46-48). */
  val r10: QueryDef = QueryDef("r10_row_ids",
    (s, dir) => graft.pipeline.Preprocessor.withRowIds(
      Queries.table(s, dir, "documents").select("doc_id").orderBy("doc_id"))
      .orderBy("doc_id"),
    Some("SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS ids " +
      "FROM documents ORDER BY doc_id"))

  /** P7 `split_dataset_by_filter`: the failed half (the passed half is
    * f1_check_word_number's own query).
    */
  val p7: QueryDef = QueryDef("p7_split_failed_half",
    (s, dir) => {
      val docs = Queries.table(s, dir, "documents")
      val (_, failed) = graft.pipeline.Preprocessor.splitByFilter(
        docs, "text", Filters.checkWordNumber(20, 60))
      failed.select("doc_id").orderBy("doc_id")
    },
    Some("SELECT doc_id FROM documents WHERE NOT " +
      "(" + OracleSql.wordCount("text") + " BETWEEN 20 AND 60) " +
      "ORDER BY doc_id"))

  /** P8 `_dataset_subtraction` — left-anti join on id (the reference's only
    * join). Orders with no lineitem.
    */
  val p8: QueryDef = QueryDef("p8_anti_join_subtraction",
    (s, dir) => {
      val orders = Queries.table(s, dir, "orders")
        .withColumnRenamed("o_orderkey", "ids")
      val li = Queries.table(s, dir, "lineitem")
        .select(col("l_orderkey").as("ids"))
      graft.pipeline.Preprocessor.subtract(orders, li)
        .select(col("ids"), col("o_custkey")).orderBy("ids")
    },
    Some("SELECT o_orderkey AS ids, o_custkey FROM orders WHERE o_orderkey " +
      "NOT IN (SELECT l_orderkey FROM lineitem) ORDER BY ids"))

  /** P12 criteria `describe()` stats — the exact-aggregate subset (count/
    * avg/min/max; stddev & percentiles differ across engines' algorithms).
    */
  val p12: QueryDef = QueryDef("p12_criteria_stats",
    (s, dir) => Queries.table(s, dir, "documents")
      .select(graft.text.Filters.checkLowercaseRatio().score(col("text"))
        .as("crit"))
      // mean via integer-scaled sum: double `avg` is partial-sum-order
      // dependent and not hash-stable across engines
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("crit") * 1e9).cast("long")).as("sum_e9"),
        min(col("crit")).as("mn"), max(col("crit")).as("mx")),
    Some("WITH c AS (SELECT " + OracleSql.lowercaseRatio("text") +
      " AS crit FROM documents) SELECT count(*) AS cnt, " +
      "CAST(sum(CAST(floor(crit * 1e9) AS BIGINT)) AS BIGINT) AS sum_e9, " +
      "min(crit) AS mn, max(crit) AS mx FROM c"))

  /** P3 dry-run: score columns for a two-filter stack, rows unfiltered,
    * dry-run column prefixing applied.
    */
  val p3DryRun: QueryDef = QueryDef("p3_dry_run_scores",
    (s, dir) => graft.pipeline.Preprocessor.dryRun(
      Queries.table(s, dir, "documents").select("doc_id", "text"),
      "text",
      Seq(graft.text.Filters.checkWordNumber(20, 60),
        graft.text.Filters.checkLowercaseRatio()))
      .drop("text").orderBy("doc_id"),
    Some("SELECT doc_id, " + OracleSql.wordCount("text") + " AS " +
      "text__text_check_word_number_criteria, " +
      OracleSql.lowercaseRatio("text") +
      " AS text__text_check_lowercase_ratio_criteria " +
      "FROM documents ORDER BY doc_id"))

  // ---- the flagship E2E dataflow (main.py:40-75) as two oracled twins ----
  //
  //  - `flagship_e2e_exact`: EXACT dedup substituted for MinHash — every
  //    stage is then ANSI-SQL-expressible and the whole pipeline gets a
  //    DuckDB hash oracle.
  //  - `flagship_e2e_minhash` (r6): the REAL flagship semantics — MinHash
  //    candidate edges, keep-first by the data-derived mid id
  //    (custkey·2^20 + pos0) — with the banded signature frame exported
  //    so DuckDB derives the edges and replays the clustering over an
  //    independently recomputed trunk. A spec additionally asserts this
  //    twin's output row set equals `ChatPipeline.flagship`'s.

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
    SideChannel.exportOnce(dir, "dedup_banded_flagship")(
      MinHashDedup.bandedFrame(rendered, "response", cfg, Some("__mid__")))
    Clustering.run(rendered, Some("__mid__"), 10000000L, Clustering.Pin.Held)(
        MinHashDedup.candidateEdges(_, "response", cfg))(_.keep(_))
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
    // RECURSIVE must follow WITH; the trunk CTEs lead, the signature-
    // derived clustering CTEs (which need the trunk's dsrc) follow
    "WITH RECURSIVE " + trunkCtes.stripPrefix("WITH ") + ", " +
      "m AS (SELECT fio.*, o_custkey * 1048576 + (pos - 1) AS mid " +
      "FROM fio), " +
      "dsrc AS (SELECT mid AS id, response AS t FROM m), " +
      minhashCtes(variant, 5) + " " +
      "SELECT source, rendered FROM m LEFT JOIN root r ON m.mid = r.id " +
      s"WHERE (${isRoot("m.mid")}) AND " +
      lowercaseRatio("instruction") + " >= 0.55 ORDER BY source, rendered"
  }

  /** Oracle for the HEADLINE query (`flagship_chat_pipeline`): identical
    * trunk/cluster replay as the twin's, reading the headline's own banded
    * export. The headline renders via the chatml arrays and the oracle via
    * string concat, but both produce `prefix|role:response:true` — the r6
    * parity spec that proved that equivalence is retained as defense in
    * depth.
    */
  private val flagshipMainOracle: String =
    minhashOracleSql("flagship_main")

  val flagshipOracle: QueryDef =
    QueryDef("flagship_e2e_exact", run, Some(oracle))

  val flagshipOracleMinhash: QueryDef =
    QueryDef("flagship_e2e_minhash", runMinhash,
      Some(minhashOracleSql("flagship")))

  /** The full flagship chat pipeline as a bench query: the E2E
    * explode→clean→filter→dedup→chatml dataflow at the bench scale
    * factor — the headline number for the engine as a whole. Since r7 it
    * carries its OWN DuckDB oracle (VERDICT r6 #2): the pipeline's dedup
    * pass exports its banded signature frame and the oracle recomputes
    * the whole trunk + clustering independently — the same replay the
    * minhash twin gets, against this query's own export. The r6 parity
    * spec (twin row set == headline row set) is retained as defense in
    * depth. The harness-facing output is SCALAR-only (the driver loads
    * parquet into pandas and sorts rows for hashing — an array<struct>
    * column raises "unhashable type: numpy.ndarray" even for the
    * rows-only check); the array-typed chatml API stays internal.
    */
  val flagship: QueryDef = QueryDef("flagship_chat_pipeline",
    (s, dir) => {
      // the oracle reads the response dedup's banded frame: band the
      // same dedup input, over the same `__mid__` ids
      SideChannel.exportOnce(dir, "dedup_banded_flagship_main") {
        val resp = graft.chat.ChatPipeline.flagshipResponse(s, dir)
        graft.dedup.MinHashDedup.bandedFrame(resp.dedupInput,
          resp.columnName, resp.dedup.get, resp.dedupOrderCol)
      }
      graft.chat.ChatPipeline.flagship(s, dir).select(
        array_join(transform(col("conversation"), m => concat_ws(":",
          m.getField("role"), m.getField("content"),
          m.getField("do_train").cast("string"))), "|").as("rendered"),
        col("source"))
    },
    Some(flagshipMainOracle))

  val all: Seq[QueryDef] = Seq(r1r2, r3, r4, r5, s3, r6r7, r8r9, r10, p7, p8,
    p12, p3DryRun, flagship, flagshipOracle, flagshipOracleMinhash)
}
