package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowDataset, Sources}

/** S4 `save_to_disk`/`load_from_disk` interop (preprocessor.py:68,72).
  *
  * Ground truth: `graft/hf_fixture` was written by REAL pyarrow
  * (`tools/make_arrow_fixture.py`) in the HF `save_to_disk` layout —
  * stream-format IPC shards + state.json + dataset_info.json — so the
  * reader tests here pin compatibility against the Arrow implementation
  * the reference ecosystem writes with, not against our own writer.
  * The expected values below mirror the generator verbatim; change them
  * together.
  */
class ArrowDatasetSpec extends AnyFunSuite with SharedSession {

  private def resourceDir(name: String): String = {
    val url = getClass.getClassLoader.getResource(name)
    require(url != null, s"missing test resource $name")
    new java.io.File(url.toURI).getPath
  }

  private val MsgSchema = StructType(Seq(
    StructField("content", StringType),
    StructField("do_train", BooleanType),
    StructField("role", StringType)))

  // -------------------------------------------------------------------
  // reader vs pyarrow ground truth
  // -------------------------------------------------------------------

  test("reads a pyarrow-written HF save_to_disk directory exactly") {
    val df = ArrowDataset.load(spark,
      resourceDir("graft/hf_fixture"))

    assert(df.schema === StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("score", DoubleType),
      StructField("flag", BooleanType),
      StructField("payload", BinaryType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("conversation", ArrayType(MsgSchema)),
      StructField("label", IntegerType))))

    val rows = df.orderBy("doc_id").collect()
    assert(rows.length === 5)

    val r1 = rows(0)
    assert(r1.getLong(0) === 1L)
    assert(r1.getString(1) === "hello world")
    assert(r1.getDouble(2) === 1.5)
    assert(r1.getBoolean(3) === true)
    assert(r1.getAs[Array[Byte]](4).toSeq === Seq(0x00, 0x01, 0xff)
      .map(_.toByte))
    assert(r1.getSeq[Float](5) === Seq(1.0f, 2.5f))
    assert(r1.getSeq[Row](6) === Seq(Row("hi", false, "User")))
    assert(r1.getInt(7) === 7)

    val r2 = rows(1)
    assert(r2.getString(1) === "café — naïve 😀")
    assert(r2.getDouble(2) === -0.25)
    assert(r2.getAs[Array[Byte]](4).length === 0)
    assert(r2.getSeq[Float](5) === Seq.empty)
    assert(r2.getSeq[Row](6) === Seq(Row("ok", true, "Assistant"),
      Row(null, null, null)))
    assert(r2.isNullAt(7))

    val r3 = rows(2)
    assert(r3.getLong(0) === 3L)
    assert((1 to 6).forall(r3.isNullAt))
    assert(r3.getInt(7) === -1)

    val r4 = rows(3) // second batch of shard 0
    assert(r4.getString(1) === "tab\there\nnewline")
    assert(r4.getSeq[Float](5) === Seq(3.0f))
    assert(r4.getSeq[Row](6) === Seq.empty)

    val r5 = rows(4) // shard 1
    assert(r5.getString(1) === "last shard")
    assert(r5.getDouble(2) === 9007199254740992.0) // 2^53 exact
    assert(r5.isNullAt(4))
    assert(r5.getSeq[Float](5) === Seq(-1.5f, 0.0f, 9.75f))
    assert(r5.isNullAt(6))
    assert(r5.getInt(7) === Int.MaxValue)
  }

  test("sniffs and reads the FILE-format (.arrow magic) variant") {
    val df = ArrowDataset.load(spark,
      resourceDir("graft/hf_fixture_file"))
    val rows = df.orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows(0).getString(1) === "hello world")
    assert(rows(1).getSeq[Row](6).last === Row(null, null, null))
  }

  // -------------------------------------------------------------------
  // writer round-trips
  // -------------------------------------------------------------------

  test("round-trips the full supported type lattice through save/load") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("d", DoubleType),
      StructField("f", FloatType),
      StructField("i", IntegerType),
      StructField("b", BooleanType),
      StructField("bin", BinaryType),
      StructField("emb", ArrayType(FloatType)),
      StructField("conv", ArrayType(MsgSchema)),
      StructField("nested", ArrayType(ArrayType(LongType)))))
    val data = Seq(
      Row(1L, "plain", 1.25, 2.5f, 42, true, Array[Byte](1, 2),
        Seq(0.5f), Seq(Row("a", true, "User")), Seq(Seq(1L, 2L), Seq())),
      Row(2L, "ümläut 🤖", null, null, null, null,
        null, Seq.empty[Float], Seq(Row(null, null, null)), null),
      Row(3L, null, -0.0, Float.MinPositiveValue, Int.MinValue, false,
        Array.empty[Byte], null, null, Seq(Seq())))
    val df = spark.createDataFrame(data.asJava, schema).repartition(2)

    val out = tmp("arrow_spec_lattice")
    ArrowDataset.save(df, out, batchRows = 2)
    val re = ArrowDataset.load(spark, out)
    assert(re.schema === schema.copy(fields = schema.fields.map(
      _.copy(nullable = true))) || re.schema === schema)

    val got = re.orderBy("id").collect()
    val want = data.sortBy(_.getLong(0))
    got.zip(want).foreach { case (g, w) =>
      (0 until schema.length).foreach { c =>
        (g.get(c), w.get(c)) match {
          case (a: Array[Byte], b: Array[Byte]) =>
            assert(a.toSeq === b.toSeq, s"col $c")
          case (a, b) => assert(a === b, s"col $c of id ${w.get(0)}")
        }
      }
    }
  }

  test("round-trips documents.parquet bit-exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = tmp("arrow_spec_docs")
    ArrowDataset.save(docs.repartition(3), out)
    val re = ArrowDataset.load(spark, out)
    assert(re.count() === docs.count())
    val a = docs.orderBy("doc_id").collect().toSeq
    val b = re.orderBy("doc_id").collect().toSeq
    assert(a === b)
    // compressed variants on the same real corpus — these dirs double as
    // inputs to tools/arrow_interop.py, which re-reads them with REAL
    // pyarrow (codec interop in the writer direction)
    for (codec <- Seq("zstd", "lz4")) {
      val cdir = tmp(s"arrow_spec_docs_$codec")
      ArrowDataset.save(docs.repartition(3), cdir, compression = codec)
      assert(ArrowDataset.load(spark, cdir).orderBy("doc_id")
        .collect().toSeq === a)
    }
  }

  test("save writes the HF sidecar layout; empty partitions still shard") {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq(Row(1L, "x"), Row(2L, "y")).asJava,
      StructType(Seq(StructField("id", LongType),
        StructField("t", StringType))))
      .repartition(4) // > row count: at least two shards are empty
    val out = tmp("arrow_spec_layout")
    ArrowDataset.save(df, out)

    val files = new java.io.File(out).listFiles().map(_.getName).sorted
    assert(files.count(_.endsWith(".arrow")) === 4)
    assert(files.contains("state.json"))
    assert(files.contains("dataset_info.json"))
    assert(files.filter(_.endsWith(".arrow"))
      .forall(_.matches("data-\\d{5}-of-00004\\.arrow")))

    val state = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/state.json")), "UTF-8")
    assert(state.contains("\"_data_files\""))
    assert(state.contains("data-00000-of-00004.arrow"))
    assert(state.contains("\"_fingerprint\""))
    val info = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/dataset_info.json")), "UTF-8")
    assert(info.contains(
      "\"t\": {\"dtype\": \"string\", \"_type\": \"Value\"}"))

    // all four shards (incl. empty ones) read back; rows survive
    val re = ArrowDataset.load(spark, out)
    assert(re.orderBy("id").collect().map(_.getString(1)).toSeq
      === Seq("x", "y"))
  }

  test("column-pruned load keeps requested order and skips conversion") {
    val df = ArrowDataset.load(spark, resourceDir("graft/hf_fixture"),
      columns = Seq("text", "doc_id"))
    assert(df.schema.fieldNames.toSeq === Seq("text", "doc_id"))
    val rows = df.orderBy("doc_id").collect()
    assert(rows.length === 5)
    assert(rows(0).getString(0) === "hello world")
    val e = intercept[IllegalArgumentException] {
      ArrowDataset.load(spark, resourceDir("graft/hf_fixture"),
        columns = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("many small record batches stream through one shard") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("t", StringType)))
    val data = (0L until 10L).map(i => Row(i, s"row$i"))
    val df = spark.createDataFrame(data.asJava, schema).coalesce(1)
    val out = tmp("arrow_spec_batches")
    ArrowDataset.save(df, out, batchRows = 1) // 10 one-row batches
    val re = ArrowDataset.load(spark, out)
    assert(re.orderBy("id").collect().map(_.getString(1)).toSeq
      === (0 until 10).map(i => s"row$i"))
    assert(re.limit(3).count() === 3) // early termination path
  }

  test("dataset_info features: list<struct> uses the [feature] form") {
    import scala.jdk.CollectionConverters._
    // HF's Sequence(dict) TRANSPOSES to dict-of-lists; the faithful
    // Features form for conversation-shaped columns is a json LIST
    val schema = StructType(Seq(
      StructField("conversation", ArrayType(MsgSchema)),
      StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      Seq(Row(Seq(Row("hi", true, "User")), Seq(1.0f))).asJava, schema)
    val out = tmp("arrow_spec_features")
    ArrowDataset.save(df, out)
    val info = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/dataset_info.json")), "UTF-8")
    assert(info.contains(
      """"conversation": [{"content": {"dtype": "string", "_type": "Value"}"""))
    assert(info.contains(
      """"embedding": {"feature": {"dtype": "float32", "_type": "Value"}, """ +
        """"length": -1, "_type": "Sequence"}"""))
    // and no stray .tmp files survive the commit protocol
    assert(!new java.io.File(out).listFiles().exists(_.getName
      .endsWith(".tmp")))
  }

  test("zero-partition frames still save a loadable schema-only dataset") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("t", StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    assert(empty.rdd.getNumPartitions === 0) // the degenerate case
    val out = tmp("arrow_spec_empty")
    ArrowDataset.save(empty, out)
    val re = ArrowDataset.load(spark, out)
    assert(re.count() === 0)
    assert(re.schema.fieldNames.toSeq === Seq("id", "t"))
  }

  test("reads zstd- and lz4-compressed record batches (pyarrow-written)") {
    // two single-batch shards, same schema, one per codec (see
    // tools/make_arrow_fixture.py postscript) — loaded as one dataset
    val df = ArrowDataset.load(spark,
      resourceDir("graft/hf_fixture_zstd"))
    val rows = df.orderBy("doc_id", "text").collect()
    assert(rows.length === 6) // 3 rows × 2 codecs
    assert(rows.count(r => !r.isNullAt(1) && r.getString(1).length == 1000)
      === 2)
    assert(rows.filter(_.getLong(0) == 1L)
      .forall(_.getSeq[Float](2) === Seq(1.0f, 2.0f)))
  }

  test("reads large_string/large_list/large_binary (64-bit offset) columns") {
    // HF datasets promotes big columns to the large_* arrow types
    val df = ArrowDataset.load(spark, resourceDir("graft/hf_fixture_large"))
    assert(df.schema === StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("emb", ArrayType(FloatType)),
      StructField("payload", BinaryType))))
    val rows = df.orderBy("doc_id").collect()
    assert(rows(0).getString(1) === "big one")
    assert(rows(0).getSeq[Float](2) === Seq(0.5f, 1.5f))
    assert(rows(0).getAs[Array[Byte]](3).toSeq === Seq(1.toByte, 2.toByte))
    assert((1 to 3).forall(rows(1).isNullAt))
  }

  test("appendBatch: batches accrete; a replayed batch overwrites itself") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("t", StringType)))
    def df(rows: Seq[Row]) =
      spark.createDataFrame(rows.asJava, schema).repartition(2)
    val out = tmp("arrow_spec_append")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))

    ArrowDataset.appendBatch(df(Seq(Row(1L, "a"), Row(2L, "b"))), out, 0L)
    ArrowDataset.appendBatch(df(Seq(Row(3L, "c"))), out, 1L)
    // at-least-once replay of batch 0 with identical content: the
    // deterministic names + manifest dedup make it exactly-once
    ArrowDataset.appendBatch(df(Seq(Row(1L, "a"), Row(2L, "b"))), out, 0L)

    val re = ArrowDataset.load(spark, out)
    assert(re.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the replay must NOT reorder the manifest: batch 0's shards stay
    // BEFORE batch 1's even though batch 0 was re-delivered last
    val state = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/state.json")), "UTF-8")
    assert(state.indexOf("data-b000000000-") <
      state.indexOf("data-b000000001-"))

    // schema drift across batches fails loudly — STRUCTURALLY, against
    // the shard bytes, so a richer dataset_info.json (what real HF
    // save_to_disk writes) does not trip it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/dataset_info.json"),
      """{"description": "hf-written, richer fields", "features": {}}""")
    ArrowDataset.appendBatch(df(Seq(Row(9L, "late"))), out, 3L)
    assert(ArrowDataset.load(spark, out).count() === 4)
    val drifted = spark.createDataFrame(
      Seq(Row(4L)).asJava, StructType(Seq(StructField("id", LongType))))
    val e = intercept[IllegalArgumentException] {
      ArrowDataset.appendBatch(drifted, out, 4L)
    }
    assert(e.getMessage.contains("schema drift"))

    // orphan sweep: a crashed earlier attempt's same-prefix shard that
    // the replay no longer produces must be deleted (a manifest-less
    // glob would double-count it)
    val orphan = java.nio.file.Paths.get(s"$out/data-b000000001-p01999.arrow")
    val anyShard = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".arrow")).head.toPath
    java.nio.file.Files.copy(anyShard, orphan)
    ArrowDataset.appendBatch(df(Seq(Row(3L, "c"))), out, 1L) // replay b1
    assert(!java.nio.file.Files.exists(orphan))
    assert(ArrowDataset.load(spark, out).count() === 4)
  }

  test("foreachBatchArrowPublish: a stream publishes an HF-loadable dataset") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val out = tmp(s"arrow_stream_$stamp")
    val ckpt = tmp(s"arrow_stream_ckpt_$stamp")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingPipeline.foreachBatchArrowPublish(
      mem.toDF.toDF("id", "t"), out, ckpt)
    try {
      mem.addData(Seq(1L -> "x", 2L -> "y"))
      q.processAllAvailable()
      mem.addData(Seq(3L -> "z"))
      q.processAllAvailable()
    } finally q.stop()
    val re = ArrowDataset.load(spark, out)
    assert(re.orderBy("id").collect().map(_.getString(1)).toSeq
      === Seq("x", "y", "z"))
    // the manifest lists batch shards in batch order
    val state = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/state.json")), "UTF-8")
    assert(state.indexOf("data-b000000000-") <
      state.indexOf("data-b000000001-"))
  }

  test("DatasetDict layout: splits union in dict order; split= selects one") {
    val dir = resourceDir("graft/hf_fixture_dict")
    // default: concatenate splits, dict order (train before test) — the
    // reference's own first act on a dict-shaped load (main.py:82)
    val all = ArrowDataset.load(spark, dir)
    assert(all.collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L, 10L, 11L))
    // split selector
    val test0 = ArrowDataset.load(spark, dir, split = Some("test"))
    assert(test0.orderBy("doc_id").collect().map(_.getString(1)).toSeq
      === Seq("test one", "test two"))
    val e = intercept[IllegalArgumentException] {
      ArrowDataset.load(spark, dir, split = Some("validation"))
    }
    assert(e.getMessage.contains("validation"))
    // split= against a single-split dir fails loudly
    val e2 = intercept[IllegalArgumentException] {
      ArrowDataset.load(spark, resourceDir("graft/hf_fixture"),
        split = Some("train"))
    }
    assert(e2.getMessage.contains("single-split"))
    // Sources.load dispatches the dict dir to the arrow reader too
    assert(Sources.load(spark, dir).count() === 5)
    assert(Sources.loadFromDisk(spark, dir, Some("train")).count() === 3)
  }

  test("saveDict round-trips a split dict through the DatasetDict layout") {
    import spark.implicits._
    val out = tmp("arrow_spec_dict")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val train = Seq((1L, "a"), (2L, "b")).toDF("id", "t")
    val test0 = Seq((9L, "z")).toDF("id", "t")
    ArrowDataset.saveDict(Seq("train" -> train, "test" -> test0), out)

    val names = new java.io.File(out).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted // drop local-FS .crc sidecars
    assert(names.toSeq === Seq("dataset_dict.json", "test", "train"))
    val dict = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/dataset_dict.json")), "UTF-8")
    assert(dict === """{"splits": ["train", "test"]}""")
    assert(ArrowDataset.load(spark, out).collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 9L))
    assert(ArrowDataset.load(spark, out, split = Some("test"))
      .collect().map(_.getString(1)).toSeq === Seq("z"))

    // saveDict-over-saveDict sweeps splits the old manifest listed but
    // the new one drops (the dict-level twin of save()'s shard sweep)
    ArrowDataset.saveDict(Seq("train" -> train), out)
    assert(!new java.io.File(s"$out/test").exists())
    assert(ArrowDataset.load(spark, out).count() === 2)
  }

  test("compressed saves round-trip and shrink; pyarrow-readable codecs only") {
    import spark.implicits._
    // highly compressible text so the codec effect is unambiguous
    val df = (0L until 200L).map(i => (i, "the quick brown fox " * 50))
      .toDF("id", "t").coalesce(1)
    def shardBytes(dir: String): Long =
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".arrow")).map(_.length()).sum
    val plain = tmp("arrow_spec_comp_none")
    val zstd = tmp("arrow_spec_comp_zstd")
    val lz4 = tmp("arrow_spec_comp_lz4")
    ArrowDataset.save(df, plain)
    ArrowDataset.save(df, zstd, compression = "zstd")
    ArrowDataset.save(df, lz4, compression = "lz4")
    for (dir <- Seq(zstd, lz4)) {
      val re = ArrowDataset.load(spark, dir)
      assert(re.count() === 200)
      assert(re.orderBy("id").first().getString(1)
        === "the quick brown fox " * 50)
      assert(shardBytes(dir) < shardBytes(plain) / 5,
        s"$dir not compressed: ${shardBytes(dir)} vs ${shardBytes(plain)}")
    }
    val e = intercept[IllegalArgumentException] {
      ArrowDataset.save(df, tmp("arrow_spec_comp_bad"),
        compression = "snappy")
    }
    assert(e.getMessage.contains("snappy"))
  }

  test("save over a previous save sweeps stale shards from the manifest") {
    import spark.implicits._
    val out = tmp("arrow_spec_resave")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    ArrowDataset.save((0L until 8L).toDF("id").repartition(4), out)
    assert(new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".arrow")) === 4)
    // re-save with a DIFFERENT partition count: the -of- suffix changes,
    // so none of the old names are reused — all four must be swept
    ArrowDataset.save((100L until 103L).toDF("id").repartition(2), out)
    val files = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.endsWith(".arrow")).sorted
    assert(files.toSeq === Seq("data-00000-of-00002.arrow",
      "data-00001-of-00002.arrow"))
    // and the dataset reads as ONLY the new rows (a glob-based consumer
    // sees the same files the manifest lists)
    assert(ArrowDataset.load(spark, out).collect().map(_.getLong(0))
      .sorted.toSeq === Seq(100L, 101L, 102L))
  }

  test("appendBatch: an all-empty first batch still commits a loadable layout") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("t", StringType)))
    val out = tmp("arrow_spec_append_empty")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val empty = spark.createDataFrame(Seq.empty[Row].asJava, schema)
    ArrowDataset.appendBatch(empty, out, 0L)
    // state.json + dataset_info.json + one schema-only shard: both our
    // loader and HF load_from_disk accept the directory immediately
    val names = new java.io.File(out).listFiles().map(_.getName).sorted
    assert(names.contains("state.json"))
    assert(names.count(_.endsWith(".arrow")) === 1)
    val re = ArrowDataset.load(spark, out)
    assert(re.count() === 0)
    assert(re.schema.fieldNames.toSeq === Seq("id", "t"))
    // data arriving later appends normally
    ArrowDataset.appendBatch(spark.createDataFrame(
      Seq(Row(1L, "x")).asJava, schema), out, 1L)
    assert(ArrowDataset.load(spark, out).count() === 1)
  }

  test("appendBatch tolerates nested-nullability differences (no false drift)") {
    import scala.jdk.CollectionConverters._
    val loose = StructType(Seq(StructField("id", LongType),
      StructField("emb", ArrayType(FloatType, containsNull = true))))
    val tight = StructType(Seq(StructField("id", LongType),
      StructField("emb", ArrayType(FloatType, containsNull = false))))
    val out = tmp("arrow_spec_append_nullab")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    ArrowDataset.appendBatch(spark.createDataFrame(
      Seq(Row(1L, Seq(1.0f))).asJava, loose), out, 0L)
    // a typed stream reporting a NON-nullable array element is the same
    // dataset shape — must append, not fail with 'schema drift'
    ArrowDataset.appendBatch(spark.createDataFrame(
      Seq(Row(2L, Seq(2.0f))).asJava, tight), out, 1L)
    assert(ArrowDataset.load(spark, out).count() === 2)
    // a REAL drift (element type change) still fails
    val drifted = StructType(Seq(StructField("id", LongType),
      StructField("emb", ArrayType(DoubleType))))
    val e = intercept[IllegalArgumentException] {
      ArrowDataset.appendBatch(spark.createDataFrame(
        Seq(Row(3L, Seq(3.0))).asJava, drifted), out, 2L)
    }
    assert(e.getMessage.contains("schema drift"))
  }

  test("appendBatch crash recovery: a torn commit converges on replay") {
    import scala.jdk.CollectionConverters._
    // The exactly-once publish's torn-commit window (r17 VERDICT ask #4):
    // a crash can land BETWEEN a batch's shard writes and its manifest
    // commit. On restart, streaming checkpointing re-delivers the
    // uncommitted batch (foreachBatch is at-least-once), so recovery =
    // appendBatch running again with the same batchId. This test builds
    // the torn state explicitly and asserts both halves of the contract:
    // the torn instant is already a VALID dataset (consistent prefix),
    // and the replay converges to exactly-once with no orphans.
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("t", StringType)))
    def df(rows: Seq[Row]) =
      spark.createDataFrame(rows.asJava, schema).repartition(2)
    val out = tmp("arrow_spec_torn")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))

    ArrowDataset.appendBatch(df(Seq(Row(1L, "a"), Row(2L, "b"))), out, 0L)
    ArrowDataset.appendBatch(df(Seq(Row(3L, "c"))), out, 1L)
    val preTorn = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/state.json"))

    // batch 2 lands fully, then the manifest is rolled back to the
    // pre-batch-2 bytes — exactly the on-disk state of a crash after
    // the shard renames but before the state.json rename
    ArrowDataset.appendBatch(df(Seq(Row(4L, "d"), Row(5L, "e"))), out, 2L)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/state.json"), preTorn)
    // drop the local-FS checksum sidecar the raw rewrite invalidated —
    // a REAL torn commit leaves a consistent (old state.json, old .crc)
    // pair, since the atomic rename moves both; only this test's
    // behind-hadoop's-back rollback can desync them
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$out/.state.json.crc"))
    // plus a partial temp from the killed attempt (its finally never ran)
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$out/.data-b000000002-p00000.arrow.7.tmp"), Array[Byte](1, 2, 3))

    // half 1: the torn instant is a consistent PREFIX — batches 0-1
    // only, loadable, no duplicate/partial rows
    assert(ArrowDataset.load(spark, out).orderBy("id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))

    // half 2: restart re-delivers batch 2 → exactly once
    ArrowDataset.appendBatch(df(Seq(Row(4L, "d"), Row(5L, "e"))), out, 2L)
    val re = ArrowDataset.load(spark, out)
    assert(re.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    // manifest lists batch 2's shards exactly once, in batch order
    val state = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/state.json")), "UTF-8")
    val b2Names = "data-b000000002-p\\d{5}\\.arrow".r
      .findAllIn(state).toSeq
    assert(b2Names.distinct.size === b2Names.size && b2Names.nonEmpty)
    assert(state.indexOf("data-b000000001-") <
      state.indexOf("data-b000000002-"))
    // no unmanifested same-prefix shards and no crash-residue temps
    val manifested = "\"filename\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(state).map(_.group(1)).toSet
    val onDisk = new java.io.File(out).listFiles().map(_.getName)
    assert(onDisk.filter(_.endsWith(".arrow")).forall(manifested.contains))
    assert(!onDisk.exists(_.endsWith(".tmp")))
  }

  test("replay replaces shards without a missing-file window") {
    import scala.jdk.CollectionConverters._
    // r19 reader-visibility contract (appendBatch scaladoc): a replayed
    // batch swaps each shard via tmp-write + replaceAtomic. Two pins:
    // (a) the MECHANISM — Hadoop's checksummed local FS REFUSES rename
    // onto an existing file (which is why naive rename-first alone
    // cannot work here), while its raw POSIX layer replaces atomically;
    // replaceAtomic routes through the raw layer. (b) the BEHAVIOR — a
    // replay leaves the published names continuously readable (a
    // concurrent poller never observes an absent shard) and converges
    // to the replayed rows with no temp residue.
    val out = tmp("arrow_spec_replace_window")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("t", StringType)))
    def df(rows: Seq[Row]) =
      spark.createDataFrame(rows.asJava, schema).repartition(1)
    ArrowDataset.appendBatch(df(Seq(Row(1L, "old"))), out, 0L)
    val shard = new java.io.File(out, "data-b000000000-p00000.arrow")
    assert(shard.exists())

    // (a) mechanism: the checksummed wrapper refuses replace; the raw
    // POSIX layer swaps atomically (what replaceAtomic rides on)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
      .asInstanceOf[org.apache.hadoop.fs.LocalFileSystem]
    val src = new org.apache.hadoop.fs.Path(out, "probe_src")
    val dst = new org.apache.hadoop.fs.Path(out, "probe_dst")
    Seq(src, dst).foreach { p =>
      val o = fs.create(p, true)
      o.write(p.getName.getBytes("UTF-8")); o.close()
    }
    assert(!fs.rename(src, dst),
      "checksummed local FS unexpectedly accepts rename-onto-existing " +
        "(if Hadoop ever allows this, replaceAtomic tier 1 takes over)")
    assert(fs.getRawFileSystem.rename(src, dst),
      "raw local FS must replace atomically (POSIX rename)")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/probe_dst")), "UTF-8") === "probe_src")
    fs.getRawFileSystem.delete(dst, false)

    // (b) behavior: poll the published shard name while the replay runs
    @volatile var sawMissing = false
    @volatile var stop = false
    val poller = new Thread(() => {
      while (!stop) { if (!shard.exists()) sawMissing = true }
    })
    poller.start()
    try ArrowDataset.appendBatch(df(Seq(Row(2L, "new"))), out, 0L)
    finally { stop = true; poller.join() }
    assert(!sawMissing, "shard name went missing during replay")
    val rows = ArrowDataset.load(spark, out).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((2L, "new")))
    val residue = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.endsWith(".tmp"))
    assert(residue.isEmpty, s"temp residue: ${residue.mkString(",")}")
  }

  test("fuzz: random nested values round-trip through every codec") {
    import scala.jdk.CollectionConverters._
    // generator-driven robustness for the interop boundary: adversarial
    // strings (astral, control, empty), nulls at every level, empty and
    // nested arrays, through save/load under none/zstd/lz4
    val rnd = new scala.util.Random(42)
    def randString(): String = {
      val n = rnd.nextInt(12)
      (0 until n).map(_ => rnd.nextInt(5) match {
        case 0 => ('a' + rnd.nextInt(26)).toChar.toString
        case 1 => " "
        case 2 => new String(Character.toChars(0x1F600 + rnd.nextInt(32)))
        case 3 => "\n"
        case 4 => "é"
      }).mkString
    }
    def randRow(id: Long): Row = Row(
      id,
      if (rnd.nextInt(8) == 0) null else randString(),
      if (rnd.nextInt(8) == 0) null
      else (0 until rnd.nextInt(4)).map(_ =>
        if (rnd.nextInt(10) == 0) null else Float.box(rnd.nextFloat())),
      if (rnd.nextInt(8) == 0) null
      else (0 until rnd.nextInt(3)).map(_ =>
        Row(if (rnd.nextInt(6) == 0) null else randString(),
          Boolean.box(rnd.nextBoolean()))),
      if (rnd.nextInt(8) == 0) null
      else { val b = new Array[Byte](rnd.nextInt(6)); rnd.nextBytes(b); b })
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("emb", ArrayType(FloatType)),
      StructField("conv", ArrayType(StructType(Seq(
        StructField("content", StringType),
        StructField("flag", BooleanType))))),
      StructField("bin", BinaryType)))
    val rows = (0L until 120L).map(randRow)
    val df = spark.createDataFrame(rows.asJava, schema).repartition(3)
    val want = rows.map(r => (r.getLong(0), r)).sortBy(_._1).map(_._2)

    for (codec <- Seq("none", "zstd", "lz4")) {
      val out = tmp(s"arrow_spec_fuzz_$codec")
      ArrowDataset.save(df, out, batchRows = 7, compression = codec)
      val got = ArrowDataset.load(spark, out).orderBy("id").collect()
      assert(got.length === want.length, codec)
      got.zip(want).foreach { case (g, w) =>
        assert(g.getLong(0) === w.getLong(0), codec)
        assert(g.getString(1) === w.getString(1), s"$codec s@${w.get(0)}")
        assert(g.getSeq[Float](2) === w.getSeq[Float](2),
          s"$codec emb@${w.get(0)}")
        assert(g.getSeq[Row](3) === w.getSeq[Row](3),
          s"$codec conv@${w.get(0)}")
        (g.get(4), w.get(4)) match {
          case (a: Array[Byte], b: Array[Byte]) =>
            assert(a.toSeq === b.toSeq, s"$codec bin@${w.get(0)}")
          case (a, b) => assert(a === b, s"$codec bin@${w.get(0)}")
        }
      }
    }
  }

  test("unsupported types fail loudly before any task runs") {
    val withTs = spark.range(1).withColumn("ts", current_timestamp())
    val e = intercept[IllegalArgumentException] {
      ArrowDataset.save(withTs, tmp("arrow_spec_unsupported"))
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("Sources.load dispatches an HF dataset directory to the arrow reader") {
    val dir = resourceDir("graft/hf_fixture")
    val df = Sources.load(spark, dir)
    assert(df.columns.contains("conversation"))
    assert(df.count() === 5)
  }
}
