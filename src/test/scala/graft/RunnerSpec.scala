package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Runner

/** `main.py` entrypoint parity: the reference user's actual invocation is
  * `python main.py --config_path cfg.yaml` — this spec runs a config
  * file whose STRUCTURE mirrors the reference's own shipped experiment
  * (experiments/instructions/vicuna-v0.yaml: a `datasets:` list, hub
  * output path, `verbose: False`, EMPTY `cleaners:` keys, a bare
  * no-args `check_ethics:`, and dedup params nested under
  * `minhash_config:`) end-to-end through Runner.run and checks the
  * published chatml dataset.
  */
class RunnerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val MsgSchema = StructType(Seq(
    StructField("content", StringType),
    StructField("do_train", BooleanType),
    StructField("role", StringType)))

  private def writeDs(dir: String, withSource: Boolean,
      convs: Seq[Seq[(String, Boolean, String)]]): Unit = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(
      Seq(StructField("conversation", ArrayType(MsgSchema))) ++
        (if (withSource) Seq(StructField("source", StringType)) else Nil))
    val rows = convs.map { c =>
      val arr = c.map { case (t, d, r) => Row(t, d, r) }
      if (withSource) Row(arr, "orig/src") else Row(arr)
    }
    spark.createDataFrame(rows.asJava, schema)
      .write.mode("overwrite").parquet(dir)
  }

  test("vicuna-v0-shaped config runs end-to-end and publishes chatml") {
    val ds1 = "/tmp/graft_runner_ds1"
    val ds2 = "/tmp/graft_runner_ds2"
    val outBase = "/tmp/graft_runner_out"

    val dupResponse = "sure thing happy to help you glad to assist"
    writeDs(ds1, withSource = true, Seq(
      // A: survives (response 9 words; instruction 7 words)
      Seq(("hello there friend how are you today", false, "User"),
        (dupResponse, true, "Assistant")),
      // B: response "hi" fails check_word_number min 3
      Seq(("short prompt words here are five six", false, "User"),
        ("hi", true, "Assistant")),
      // C: EXACT duplicate of A's response, different prefix — the
      // response dedup pass must keep exactly one of A/C
      Seq(("different greeting words here for the test", false, "User"),
        (dupResponse, true, "Assistant"))))
    writeDs(ds2, withSource = false, Seq(
      // D: survives; source must be tagged with the ds2 PATH
      Seq(("what is the answer to this question", false, "User"),
        ("the answer is forty two exactly as computed here", true,
          "Assistant"))))

    // structure mirrors experiments/instructions/vicuna-v0.yaml verbatim
    // (empty cleaners:, bare check_ethics:, minhash_config: nesting)
    val yaml =
      s"""datasets:
         |  - dataset_path: "$ds1"
         |  - dataset_path: "$ds2"
         |
         |output_dataset_path: "acme/vicuna-test-chatml"
         |verbose: False
         |
         |instruction_config:
         |  cleaners:
         |  filters:
         |    check_word_number:
         |      args:
         |        min_word_threshold: 2
         |        max_word_threshold: 9999999
         |
         |  deduplication:
         |    do_deduplication: True
         |    minhash_config:
         |      ngram_size: 5
         |      num_perm: 256
         |      threshold: 0.7
         |      min_ngram_size: 5
         |
         |response_config:
         |  cleaners:
         |  filters:
         |    check_word_number:
         |      args:
         |        min_word_threshold: 3
         |        max_word_threshold: 9999999
         |    check_ethics:
         |
         |  deduplication:
         |    do_deduplication: True
         |    minhash_config:
         |      ngram_size: 5
         |      num_perm: 256
         |      threshold: 0.7
         |      min_ngram_size: 5
         |""".stripMargin
    val cfgPath = "/tmp/graft_runner_cfg.yaml"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cfgPath), yaml)

    val result = Runner.run(spark, cfgPath, outBase)

    // published under outBase/<hub repo id>, hub-ingestible parquet
    val published = spark.read.parquet(s"$outBase/acme/vicuna-test-chatml")
    assert(published.schema.fieldNames.toSeq
      === Seq("conversation", "source"))
    assert(published.schema("conversation").dataType
      === ArrayType(MsgSchema))

    val rows = published.collect().map { r =>
      val conv = r.getSeq[Row](0)
      (conv.map(m => (m.getString(0), m.getBoolean(1), m.getString(2))),
        r.getString(1))
    }.toSet
    // B filtered (response too short); exactly ONE of A/C survives the
    // response dedup; D survives with the ds2 path as tagged source
    assert(rows.size === 2)
    val responses = rows.map(_._1.last)
    assert(responses.map(_._1) ===
      Set(dupResponse, "the answer is forty two exactly as computed here"))
    // chatml shape: prefix do_train forced false, final message trained
    rows.foreach { case (conv, _) =>
      assert(conv.init.forall(!_._2))
      assert(conv.last._2 === true)
      assert(conv.last._3 === "Assistant")
    }
    val bySource = rows.toSeq.groupBy(_._2)
    assert(bySource.keySet === Set("orig/src", ds2))

    // the returned frame equals the published one
    assert(result.count() === 2)
  }

  test("a DatasetDict source runs end-to-end; split: selects one split") {
    import scala.jdk.CollectionConverters._
    // main.py:81-82: load_dataset returns a DatasetDict and the
    // reference concatenates its splits before anything else — a
    // dict-shaped save must feed the pipeline without pre-flattening
    val schema = StructType(
      Seq(StructField("conversation", ArrayType(MsgSchema))))
    def conv(resp: String) = Row(Seq(
      Row("hello there friend how are you today", false, "User"),
      Row(resp, true, "Assistant")))
    def df(resps: String*) = spark.createDataFrame(
      resps.map(conv).asJava, schema)
    val src = "/tmp/graft_runner_dict_src"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(src))
    graft.sources.ArrowDataset.saveDict(Seq(
      "train" -> df("train answer words here are many enough"),
      "test" -> df("test answer words here are many enough")), src)

    def yaml(extra: String) =
      s"""datasets:
         |  - dataset_path: "$src"$extra
         |
         |output_dataset_path: "acme/dict-test"
         |verbose: False
         |
         |instruction_config:
         |  filters:
         |
         |response_config:
         |  filters:
         |""".stripMargin
    val outBase = "/tmp/graft_runner_dict_out"

    // default: both splits concatenate (2 conversations published)
    val cfgPath = "/tmp/graft_runner_dict_cfg.yaml"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cfgPath), yaml(""))
    Runner.run(spark, cfgPath, outBase)
    val all = spark.read.parquet(s"$outBase/acme/dict-test")
    assert(all.count() === 2)
    // source tagged with the dataset PATH (column absent in the dict)
    assert(all.select("source").distinct().collect()
      .map(_.getString(0)).toSeq === Seq(src))

    // split: train selects one split (utils.py:173's split="train")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      yaml("\n    split: train"))
    Runner.run(spark, cfgPath, outBase)
    val trainOnly = spark.read.parquet(s"$outBase/acme/dict-test")
    assert(trainOnly.collect().map(_.getSeq[Row](0).last.getString(0)).toSeq
      === Seq("train answer words here are many enough"))
  }

  test("output_format: arrow publishes the HF save_to_disk layout") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(
      Seq(StructField("conversation", ArrayType(MsgSchema))))
    val src = "/tmp/graft_runner_arrowout_src"
    spark.createDataFrame(Seq(Row(Seq(
      Row("hello there friend how are you today", false, "User"),
      Row("a fine answer with plenty of words here", true, "Assistant"))))
      .asJava, schema).write.mode("overwrite").parquet(src)
    val yaml =
      s"""datasets:
         |  - dataset_path: "$src"
         |output_dataset_path: "acme/arrow-out"
         |output_format: arrow
         |output_compression: zstd
         |instruction_config:
         |  filters:
         |response_config:
         |  filters:
         |""".stripMargin
    val cfgPath = "/tmp/graft_runner_arrowout_cfg.yaml"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(cfgPath), yaml)
    val outBase = "/tmp/graft_runner_arrowout"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outBase))
    Runner.run(spark, cfgPath, outBase)
    // published artifact IS an HF dataset directory (state.json +
    // shards), re-ingestible through the dispatching loader
    val outDir = s"$outBase/acme/arrow-out"
    assert(new java.io.File(s"$outDir/state.json").exists())
    val re = graft.sources.Sources.load(spark, outDir)
    assert(re.count() === 1)
    assert(re.schema.fieldNames.toSeq === Seq("conversation", "source"))
    // unknown format fails loudly
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      yaml.replace("output_format: arrow", "output_format: orc"))
    val e = intercept[RuntimeException] {
      Runner.run(spark, cfgPath, outBase)
    }
    assert(e.getMessage.contains("output_format"))

    // parquet publish takes a parquet codec (zstd), validated eagerly
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      yaml.replace("output_format: arrow", "output_format: parquet"))
    Runner.run(spark, cfgPath, outBase)
    val pqFiles = new java.io.File(outDir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(pqFiles.nonEmpty && pqFiles.forall(_.contains(".zstd.")),
      s"expected zstd parquet files, got: ${pqFiles.toSeq}")
    assert(spark.read.parquet(outDir).count() === 1)
    // a codec outside the parquet set fails before any job runs
    java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath),
      yaml.replace("output_format: arrow", "output_format: parquet")
        .replace("output_compression: zstd", "output_compression: brotli9"))
    val e2 = intercept[IllegalArgumentException] {
      Runner.run(spark, cfgPath, outBase)
    }
    assert(e2.getMessage.contains("brotli9"))
  }

  test("a missing response_config/instruction_config section fails loudly") {
    // main.py:21-22 raises KeyError on a typoed/missing section — a
    // silent empty default would publish unprocessed data (r17 ADVICE)
    val yaml =
      """datasets:
        |  - dataset_path: /tmp/does_not_matter
        |output_dataset_path: x/y
        |response_config:
        |  filters:
        |""".stripMargin
    val e = intercept[RuntimeException] {
      Runner.runParsed(spark, graft.pipeline.MiniYaml.parse(yaml),
        "/tmp/graft_runner_missing_out")
    }
    assert(e.getMessage.contains("instruction_config"))
    // a PRESENT-but-bare key stays a deliberately empty section: parsing
    // must get past the section check (it then fails later on the
    // nonexistent dataset path, which is fine here)
    val yaml2 = yaml + "instruction_config:\n"
    val e2 = intercept[Exception] {
      Runner.runParsed(spark, graft.pipeline.MiniYaml.parse(yaml2),
        "/tmp/graft_runner_missing_out")
    }
    assert(!e2.getMessage.contains("instruction_config"))
  }

  test("MiniYaml: multi-key list items merge; yes/no parse as booleans") {
    val cfg = graft.pipeline.MiniYaml.parse(
      """datasets:
        |  - dataset_path: a
        |    split: train
        |  - dataset_path: b
        |flag_yes: yes
        |flag_off: Off
        |output_dataset_path: kept/after-list
        |""".stripMargin)
    val ds = cfg("datasets").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Map[String, Any]])
    assert(ds === Seq(Map("dataset_path" -> "a", "split" -> "train"),
      Map("dataset_path" -> "b")))
    assert(cfg("flag_yes") === true)
    assert(cfg("flag_off") === false)
    // the continuation line must NOT truncate the enclosing document
    assert(cfg("output_dataset_path") === "kept/after-list")
  }

  test("the reference's vicuna-v0.yaml shape parses verbatim") {
    val p = java.nio.file.Paths.get(
      "src/test/resources/fixtures/vicuna-v0.yaml")
    val cfg = graft.pipeline.MiniYaml.parse(
      java.nio.file.Files.readString(p))

    val paths = cfg("datasets").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[Map[String, Any]]("dataset_path").toString)
    assert(paths.length === 3)
    assert(paths.forall(_.startsWith("AlekseyKorshuk/")))
    assert(cfg("output_dataset_path") === "AlekseyKorshuk/vicuna-v0-chatml")
    assert(cfg("verbose") === false) // Python-style `False` → boolean

    val resp = graft.pipeline.PipelineConfig.columnConfig(
      cfg("response_config").asInstanceOf[Map[String, Any]])
    assert(resp.cleaners.isEmpty) // empty `cleaners:` key
    assert(resp.filters.map(_.name).toSet
      === Set("check_word_number", "check_ethics")) // bare no-args form
    assert(resp.dedup.isDefined) // `True` → dedup actually ON
    val mh = resp.dedup.get
    // the values equal the DEFAULTS, faithfully: the reference reads
    // dedup params from `args` only and silently IGNORES the
    // minhash_config: block vicuna-v0 writes (preprocessor.py:73-77;
    // the ignore semantics itself is pinned by ExtrasSpec with a
    // non-default minhash_config ngram)
    assert(mh.ngramSize === 5 && mh.numPerm === 256 &&
      mh.threshold === 0.7 && mh.minNgramSize === 5)

    val instr = graft.pipeline.PipelineConfig.columnConfig(
      cfg("instruction_config").asInstanceOf[Map[String, Any]])
    assert(instr.filters.map(_.name) === Seq("check_word_number"))
    assert(instr.dedup.isDefined)
  }
}
