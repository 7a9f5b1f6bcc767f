package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.chat.Conversations
import graft.sources.Sources

/** The reference's `main.py` entrypoint, verbatim flow (r17 — every STEP
  * was already implemented and oracled; this is the user-facing
  * composition `python main.py --config_path cfg.yaml` runs, so a
  * reference user can hand the engine their config FILE, not just its
  * pieces):
  *
  *   load_yaml (main.py:16) → combine_datasets over `datasets:`
  *   (main.py:78-87, source tagged when absent) →
  *   convert_to_input_output (main.py:26-31) → add_content_columns
  *   (main.py:34-38) → DataPreprocessor over `response_config`
  *   (main.py:43-51) → DataPreprocessor over `instruction_config` with
  *   cleaners FORCED EMPTY (main.py:54-63 — "Cleaner does not work on
  *   instructions") → convert_to_chatml (main.py:67-71) →
  *   shuffle(seed=42) (main.py:73) → push_to_hub (main.py:74) as a
  *   parquet publish (S5 — the hub-ingestible layout).
  *
  * `output_dataset_path` is a hub repo id in the reference; here it
  * resolves under `outBase` (a filesystem or object-store prefix).
  * Dedup keep-first order: the reference's contiguous row ids over the
  * current physical order — pass `dedupOrderCol` pointing at a unique
  * Long column to make the kept set partition-deterministic instead
  * (the flagship's `__mid__` pattern; recommended at cluster scale).
  */
object Runner {

  /** CLI twin of `python main.py --config_path cfg.yaml`:
    * `runMain graft.pipeline.Runner <config.yaml> <outBase>`.
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Runner <config.yaml> <outBase> (hub repo ids in " +
        "output_dataset_path resolve under outBase)")
    val spark = graft.GraftSession.local()
    val n = run(spark, args(0), args(1)).count()
    println(s"[runner] published $n chatml rows")
    spark.stop()
  }

  /** Run the config at `configPath`; returns the published output, read
    * back — see [[runParsed]].
    */
  def run(spark: SparkSession, configPath: String, outBase: String,
      dedupOrderCol: Option[String] = None): DataFrame = {
    val cfg = MiniYaml.parse(java.nio.file.Files.readString(
      java.nio.file.Paths.get(configPath)))
    runParsed(spark, cfg, outBase, dedupOrderCol)
  }

  /** Run a parsed config and publish its output; returns the PUBLISHED
    * rows read back, not the lazy pipeline plan — using the result never
    * replays the pipeline (r17 review catch) and holds no pin of it.
    */
  def runParsed(spark: SparkSession, cfg: Map[String, Any], outBase: String,
      dedupOrderCol: Option[String] = None): DataFrame = {
    // each entry: dataset_path + optional `split:` selector (utils.py:173
    // loads split="train"; absent → main.py:82 concatenates ALL splits of
    // a dict-shaped dataset, which single-split sources trivially are)
    val entries: Seq[(String, Option[String])] = cfg.get("datasets") match {
      case Some(ds: Seq[Any] @unchecked) => ds.map {
        case m: Map[String @unchecked, Any @unchecked] =>
          (m.getOrElse("dataset_path",
            sys.error("datasets entry missing dataset_path")).toString,
            m.get("split").collect { case s if s != null => s.toString })
        case p => (p.toString, None)
      }
      case _ => sys.error("config has no datasets: list (main.py:17)")
    }
    val outPath = cfg.getOrElse("output_dataset_path",
      sys.error("config has no output_dataset_path (main.py:18)")).toString
    // publish-format keys validated EAGERLY (null-safe: a bare
    // `output_format:` line maps to null — fall back to the default,
    // like `verbose`): a bad codec must fail here, not after hours of
    // dedup. Unset compression ("") takes each format's default
    // (snappy parquet — the hub convention; uncompressed arrow — HF's
    // own save_to_disk behavior); an explicit value is validated
    // against the chosen format's codec set.
    def strKey(key: String, default: String): String = cfg.get(key) match {
      case Some(s) if s != null => s.toString
      case _ => default
    }
    val outFormat = strKey("output_format", "parquet")
    val outCompression = strKey("output_compression", "")
    outFormat match {
      case "arrow" =>
        graft.sources.ArrowDataset.codecType(outCompression) // loud on typos
      case "parquet" =>
        if (outCompression.nonEmpty)
          require(Sources.ParquetCodecs.contains(outCompression),
            s"output_compression for parquet must be one of " +
              s"${Sources.ParquetCodecs.mkString(", ")}, " +
              s"got: $outCompression")
      case other => sys.error(
        s"output_format must be parquet or arrow, got: $other")
    }
    val verbose = cfg.get("verbose").exists {
      case b: Boolean => b
      case null => false // bare `verbose:` key
      case s => s.toString.equalsIgnoreCase("true")
    }
    // Both section keys MUST exist — main.py:21-22 does
    // config["response_config"]/["instruction_config"] and raises
    // KeyError on a typoed/missing name; silently treating a missing
    // section as "no filters, no dedup" would publish unprocessed data
    // (r17 ADVICE). A PRESENT-but-bare key (`instruction_config:` →
    // null) stays a deliberately empty section, like the reference's
    // bare `cleaners:`.
    def section(key: String): Map[String, Any] = cfg.get(key) match {
      case Some(m: Map[String @unchecked, Any @unchecked]) => m
      case Some(_) => Map.empty // explicit null/empty section
      case None => sys.error(
        s"config has no $key section (main.py:21-22 raises KeyError)")
    }
    val respCfg = PipelineConfig.columnConfig(section("response_config"))
    val instrCfg = PipelineConfig.columnConfig(section("instruction_config"))

    // main.py:24,78-87 — union the datasets (splits concatenated or
    // selected per entry), tagging origin
    val combined = Sources.combineEntries(spark, entries)
    // main.py:26-38 — R1 prefix-explode + R2 content columns
    val io = Conversations.addContentColumns(
      Conversations.explodeToInputOutput(combined))

    // main.py:43-51 — response pass runs cleaners + filters + dedup
    val afterResponse = new Preprocessor(io, "response",
      respCfg.cleaners, respCfg.filters, respCfg.dedup,
      verbose = verbose,
      dedupOrderCol = dedupOrderCol,
      dedupAuditStats = respCfg.dedupAudit,
      dedupJournalPath = respCfg.dedupJournalPath).run()
    // main.py:54-63 — instruction pass NEVER cleans (cleaners=[] with a
    // warning in the reference; config-supplied instruction cleaners are
    // deliberately dropped here too)
    val afterInstruction = new Preprocessor(afterResponse, "instruction",
      cleaners = Seq.empty,
      filters = instrCfg.filters, dedup = instrCfg.dedup,
      verbose = verbose,
      dedupOrderCol = dedupOrderCol,
      dedupAuditStats = instrCfg.dedupAudit,
      dedupJournalPath = instrCfg.dedupJournalPath).run()

    // main.py:67-73 — R3 chatml + seeded permutation (R4's
    // engine-independent md5 key over the row's full content)
    val chatml = Conversations.convertToChatml(afterInstruction)
    val shuffled = Conversations.shuffleSeeded(chatml, 42,
      to_json(struct(col("conversation"), col("source"))))

    // main.py:74 — publish (S5): hub repo id resolved under outBase.
    // `output_format: arrow` publishes the HF `save_to_disk` layout —
    // the dataset shape push_to_hub actually lands on the hub — with
    // optional `output_compression: zstd|lz4` (IPC body compression,
    // pyarrow-transparent, ~3x fewer bytes on text). The default
    // parquet publish (hub-ingestible, and what every downstream query
    // here reads) takes a parquet codec the same way (zstd ≈ 30% fewer
    // bytes than the snappy default).
    outFormat match {
      case "parquet" =>
        Sources.publish(shuffled, s"$outBase/$outPath",
          if (outCompression.isEmpty) "snappy" else outCompression)
      case "arrow" => Sources.saveToDisk(shuffled, s"$outBase/$outPath",
        compression = outCompression) // "" = uncompressed (HF default)
    }
    // Sources.load, not read.parquet: `output_format: arrow` publishes
    // the HF layout, which load() sniffs and dispatches
    Sources.load(spark, s"$outBase/$outPath")
  }
}
