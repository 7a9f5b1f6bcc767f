package graft.chat

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.text.Cleaners.stripWs

/** Conversation restructuring (SURVEY.md §2.2) — the reference's chat data
  * model: `conversation: array<struct<content, do_train, role>>` + `source`.
  * All ops are higher-order-function `Column` expressions: narrow, codegen'd,
  * no shuffle.
  */
object Conversations {

  val MessageType: StructType = StructType(Seq(
    StructField("content", StringType),
    StructField("do_train", BooleanType),
    StructField("role", StringType)))

  val ConversationSchema: StructType = StructType(Seq(
    StructField("conversation", ArrayType(MessageType)),
    StructField("source", StringType)))

  /** R1 `convert_to_input_output` — main.py:90-106: one row per
    * `do_train=true` message, carrying the full preceding prefix as `input`
    * and the message as `output`. Drops all other columns but `source`.
    */
  def explodeToInputOutput(df: DataFrame,
      convCol: String = "conversation"): DataFrame =
    df.select(col("source"), col(convCol),
        posexplode(col(convCol)).as(Seq("pos", "output")))
      .where(col("output.do_train"))
      .select(
        slice(col(convCol), lit(1), col("pos")).as("input"),
        col("output"),
        col("source"))

  /** R2 `add_content_columns` — main.py:109-117: `response` = stripped
    * output content; `instruction` = stripped content of the LAST input
    * message, or "" when the prefix is empty.
    */
  def addContentColumns(df: DataFrame): DataFrame =
    df.withColumn("response", stripWs(col("output.content")))
      .withColumn("instruction",
        when(size(col("input")) > 0,
          stripWs(element_at(col("input"), -1).getField("content")))
          .otherwise(lit("")))

  /** R4 `dataset.shuffle(seed)` (main.py:73) as an ENGINE-INDEPENDENT
    * seeded permutation: sort by md5(seed ":" key) with the key itself as
    * tie-break — the same trick as `Splits.hashSplit`. Honors the
    * reference's contract (deterministic given the seed, uniform) while
    * being reproducible in any engine with md5(), and append-stable: a
    * row's sort key never changes when the corpus grows. The plan is one
    * distributed range-sort — exactly what any full shuffle costs; rank
    * materialization (when needed) is the caller's `row_number`, not part
    * of the operator.
    */
  def shuffleSeeded(df: DataFrame, seed: Long, key: Column): DataFrame =
    df.orderBy(md5(concat(lit(s"$seed:"), key.cast("string"))), key)

  /** R3 `convert_to_chatml` — main.py:120-135: prefix messages with
    * `do_train` forced false + one appended trained message carrying the
    * (possibly cleaned) `response` and the original output role.
    */
  def convertToChatml(df: DataFrame): DataFrame =
    df.select(
      concat(
        transform(col("input"), m => struct(
          m.getField("content").as("content"),
          lit(false).as("do_train"),
          m.getField("role").as("role"))),
        array(struct(
          col("response").as("content"),
          lit(true).as("do_train"),
          col("output.role").as("role")))).as("conversation"),
      col("source"))

  /** R5 dedup text prep — minhash_deduplication.py:196-211: join the
    * contents of `do_train` messages with blank lines, stripped.
    */
  def dedupText(convCol: Column): Column =
    stripWs(array_join(
      transform(
        filter(convCol, m => m.getField("do_train")),
        m => m.getField("content")),
      "\n\n"))

  /** Synthetic conversation corpus over the driver testdata: one
    * conversation per customer, messages from that customer's orders in
    * orderkey order, alternating User/Assistant with Assistant messages
    * trained. Deterministic; used by the flagship pipeline and the
    * conversation-op oracle queries (the same construction is expressed in
    * DuckDB SQL in [[graft.Queries]]).
    */
  def synthetic(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val msg = struct(
      concat(lit("please handle "), lower(col("o_orderpriority")),
        lit(" order number "), (col("o_orderkey") % 1000),
        lit(" with care.")).as("content"),
      (col("o_orderkey") % 2 === 0).as("do_train"),
      when(col("o_orderkey") % 2 === 0, lit("Assistant"))
        .otherwise(lit("User")).as("role"))
    orders
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(struct(col("o_orderkey").as("k"),
        msg.as("m")))).as("km"))
      .select(
        transform(col("km"), x => x.getField("m")).as("conversation"),
        concat(lit("synthetic/"), col("o_custkey") % 20).as("source"))
  }
}

/** Typed chat data model (SURVEY §1.4: typed `Dataset` at the chat entry
  * points where the struct schema is fixed; untyped `DataFrame` elsewhere).
  */
final case class Message(content: String, do_train: Boolean, role: String)
final case class ConversationRow(conversation: Seq[Message], source: String)
final case class IoRow(input: Seq[Message], output: Message, source: String,
    response: String, instruction: String)

object TypedConversations {
  import org.apache.spark.sql.{Dataset, Encoder, Encoders}
  implicit val convEnc: Encoder[ConversationRow] =
    Encoders.product[ConversationRow]
  implicit val ioEnc: Encoder[IoRow] = Encoders.product[IoRow]

  def typed(df: DataFrame): Dataset[ConversationRow] = df.as[ConversationRow]

  /** R1+R2 as a typed flatMap — compile-time-checked equivalent of the
    * Column version (same semantics as main.py:90-117).
    */
  def explodeToIo(ds: Dataset[ConversationRow]): Dataset[IoRow] =
    ds.flatMap { row =>
      row.conversation.zipWithIndex.collect {
        case (m, i) if m.do_train =>
          val prefix = row.conversation.take(i)
          IoRow(prefix, m, row.source,
            m.content.trim,
            prefix.lastOption.map(_.content.trim).getOrElse(""))
      }
    }
}

/** Flagship E2E — the reference's `main.py` dataflow as ONE lazy Spark
  * plan: union/synthesize → explode → project → response clean+filter
  * (+ near-dedup) → instruction filter → chatml → seeded shuffle.
  */
object ChatPipeline {

  /** The flagship runs off a YAML config mirroring
    * experiments/tiny-example.yaml — exercising the S7/S8 config → operator
    * resolution path end-to-end.
    */
  val FlagshipYaml: String =
    """response_config:
      |  cleaners:
      |    normalize_whitespace: true
      |    normalize_punctuation: true
      |    remove_empty_lines: true
      |  filters:
      |    check_word_number:
      |      args:
      |        min_word_threshold: 5
      |        max_word_threshold: 128
      |    check_completion:
      |    check_char_repetition:
      |      args:
      |        char_repetition_len: 10
      |        char_repetition_threshold: 0.2
      |    check_lowercase_ratio:
      |      args:
      |        lowercase_threshold: 0.75
      |  deduplication:
      |    do_deduplication: true
      |    audit_stats: true
      |    args:
      |      ngram_size: 5
      |      num_perm: 256
      |      threshold: 0.7
      |      min_ngram_size: 5
      |instruction_config:
      |  filters:
      |    check_lowercase_ratio:
      |      args:
      |        lowercase_threshold: 0.55
      |""".stripMargin

  /** Flat per-message view of the synthetic corpus: one row per order with
    * (custkey, pos0 = position in the conversation, content, do_train,
    * role, source, prev = previous message's content). The window pair
    * (row_number, lag) over (custkey, orderkey) replaces assembling and
    * re-exploding conversation arrays.
    */
  private[graft] def syntheticMessages(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val w = Window.partitionBy(col("custkey")).orderBy(col("okey"))
    orders.select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as("okey"),
        concat(lit("please handle "), lower(col("o_orderpriority")),
          lit(" order number "), (col("o_orderkey") % 1000),
          lit(" with care.")).as("content"),
        (col("o_orderkey") % 2 === 0).as("do_train"),
        when(col("o_orderkey") % 2 === 0, lit("Assistant"))
          .otherwise(lit("User")).as("role"),
        concat(lit("synthetic/"), col("o_custkey") % 20).as("source"))
      .withColumn("pos0", row_number().over(w) - 1)
      .withColumn("prev", lag(col("content"), 1).over(w))
      .drop("okey")
  }

  /** The flagship composes the same R1→R9 operator semantics, re-planned
    * shuffle-lean: the R1 prefix-explode would carry an O(conversation)
    * `input` array through the sort, the clean/filter trunk and the dedup
    * shuffle, only for ≈1% of rows to survive — instead the trunk runs on
    * flat scalar message rows (instruction = window `lag`, exactly the
    * "last input message" of R2), and the chatml prefix arrays are rebuilt
    * at the END by joining the tiny kept set back against the flat
    * messages. Keep-first dedup orders by a data-derived unique id
    * (custkey, pos0), so the kept rows — and their rebuilt prefixes —
    * are fully deterministic under any partitioning, with no global
    * sort anywhere in the plan.
    */
  /** The flagship trunk up to (and including) both dedup passes, with the
    * data-derived keep-first id `__mid__` still attached — the kept-row
    * set of the headline pipeline, exposed so the sf0.1 golden spec can
    * pin it (the minhash twin of the DuckDB-oracled exact-dedup flagship).
    */
  private[graft] def flagshipKept(spark: SparkSession,
      dir: String): DataFrame = {
    val instrCfg = columnConfig("instruction_config")
    new graft.pipeline.Preprocessor(flagshipResponse(spark, dir).run(),
      "instruction",
      cleaners = Seq.empty, // main.py:54-56: cleaners never run on instructions
      filters = instrCfg.filters, dedup = instrCfg.dedup,
      dedupOrderCol = Some("__mid__"),
      dedupAuditStats = instrCfg.dedupAudit,
      dedupJournalPath = instrCfg.dedupJournalPath).run()
  }

  private def columnConfig(key: String) = {
    import graft.pipeline.{MiniYaml, PipelineConfig}
    PipelineConfig.columnConfig(
      MiniYaml.parse(FlagshipYaml)(key).asInstanceOf[Map[String, Any]])
  }

  /** The first half of [[flagshipKept]]: the response-column pass
    * (clean, filter, audited MinHash dedup) over the flat trained-message
    * trunk — split out so the flagship's oracle query can band the same
    * dedup input ([[graft.pipeline.Preprocessor.dedupInput]]).
    */
  private[graft] def flagshipResponse(spark: SparkSession,
      dir: String): graft.pipeline.Preprocessor = {
    val respCfg = columnConfig("response_config")
    val msgs = syntheticMessages(spark, dir)
    // R1+R2 on flat rows: trained messages only; response = stripped
    // content, instruction = stripped previous content ("" at pos 0).
    // Keep-first dedup order: a DATA-DERIVED unique id (custkey·2^20 +
    // pos0 — conversations are far shorter than 2^20 messages), not
    // physical row order. The kept set AND the surviving representatives
    // are then deterministic under ANY partitioning — no global sort
    // needed just to pin row order. r3 used repartitionByRange +
    // sortWithinPartitions for the same guarantee; the sort (plus its
    // sampling pass over the trunk) is pure overhead once the order key
    // comes from the data, and at 100 TB a dropped global sort is the
    // single biggest stage cut in this plan. The explicit repartition
    // stays for parallelism pinning only (AQE never coalesces a user
    // repartition; without it the window's small shuffle collapses to 1-2
    // partitions and serializes the clean/filter/signature chain).
    val numPart = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val io = msgs.where(col("do_train"))
      .select(col("custkey"), col("pos0"), col("role"), col("source"),
        stripWs(col("content")).as("response"),
        when(col("pos0") > 0, stripWs(col("prev")))
          .otherwise(lit("")).as("instruction"),
        (col("custkey") * (1L << 20) + col("pos0")).as("__mid__"))
      .repartition(numPart, col("custkey"), col("pos0"))

    new graft.pipeline.Preprocessor(io, "response",
      respCfg.cleaners, respCfg.filters, respCfg.dedup,
      dedupOrderCol = Some("__mid__"),
      dedupAuditStats = respCfg.dedupAudit,
      dedupJournalPath = respCfg.dedupJournalPath)
  }

  def flagship(spark: SparkSession, dir: String): DataFrame = {
    val msgs = syntheticMessages(spark, dir)

    // R3 chatml: rebuild each kept row's prefix (messages before pos0,
    // do_train forced false) from the flat view — the join output is
    // O(kept × prefix), a few thousand structs, not 75k arrays
    val kept = flagshipKept(spark, dir)
    val prefixParts = kept.select(col("custkey").as("k"), col("pos0").as("p"))
      .join(msgs.select(col("custkey").as("k"), col("pos0").as("mp"),
        col("content").as("mc"), col("role").as("mr")), Seq("k"))
      .where(col("mp") < col("p"))
      .groupBy(col("k"), col("p"))
      .agg(transform(
        sort_array(collect_list(struct(col("mp"),
          struct(col("mc").as("content"), lit(false).as("do_train"),
            col("mr").as("role")).as("m")))),
        s => s.getField("m")).as("__prefix__"))
    val emptyPrefix = array().cast(
      org.apache.spark.sql.types.ArrayType(Conversations.MessageType))
    kept
      .join(prefixParts,
        col("custkey") === col("k") && col("pos0") === col("p"), "left")
      .select(
        concat(
          coalesce(col("__prefix__"), emptyPrefix),
          array(struct(col("response").as("content"),
            lit(true).as("do_train"), col("role").as("role"))))
          .as("conversation"),
        col("source"))
      .orderBy(rand(42)) // main.py:73 shuffle(seed=42)
  }
}
