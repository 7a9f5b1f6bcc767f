package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{MinHashConfig, MinHashDedup}
import graft.pipeline.{MiniYaml, PipelineConfig, Preprocessor, Retention}

/** VERDICT r15 #4 — retention is config-reachable: a YAML pipeline runs
  * the full journal → delete → compact takedown cycle without Scala.
  * `deduplication.journal_path` makes the Preprocessor's dedup pass
  * publish the banded journal of the kept rows; a `retention:` block
  * then deletes ids and compacts to the store the next run resumes over.
  */
class ConfigRetentionSpec extends AnyFunSuite with SharedSession {

  private val cfg = MinHashConfig(ngramSize = 3, minNgramSize = 3)

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra"

  private def corpus: DataFrame = {
    import spark.implicits._
    Seq(
      1L -> (base + " variant zero"),   // class min — the takedown target
      2L -> (base + " variant one"),    // same class — dies, promotes later
      5L -> ("a completely unrelated document about shuffle partitioning " +
        "broadcast joins and adaptive query execution in modern engines"),
      9L -> (base + " variant zero"))   // exact dup of 1 — dies
      .toDF("doc_id", "text")
  }

  // ---------------- config parsing ----------------

  test("retention block parses: family default, inline ids, paths") {
    val m = MiniYaml.parse(
      """retention:
        |  journal_path: /tmp/j
        |  delete_ids:
        |    - 3
        |    - 60
        |  compact_store_path: /tmp/s
        |  compacted_journal_path: /tmp/j2
        |""".stripMargin)
    val rc = Retention.fromConfig(m).get
    assert(rc.family === "minhash")
    assert(rc.journalPath === "/tmp/j")
    assert(rc.deleteIds === Seq(3L, 60L))
    assert(rc.deleteIdsPath === None)
    assert(rc.compactStorePath === "/tmp/s")
    assert(rc.compactedJournalPath === Some("/tmp/j2"))
    assert(Retention.fromConfig(Map("other" -> 1)) === None)
  }

  test("retention config typos raise descriptive errors") {
    def parse(y: String) = Retention.fromConfig(MiniYaml.parse(y))
    val noJournal = intercept[RuntimeException](parse(
      "retention:\n  compact_store_path: /tmp/s\n"))
    assert(noJournal.getMessage.contains("retention.journal_path"))
    val badFam = intercept[RuntimeException](parse(
      "retention:\n  family: minhsah\n  journal_path: /tmp/j\n" +
        "  compact_store_path: /tmp/s\n"))
    assert(badFam.getMessage.contains("retention.family"))
    val badIds = intercept[RuntimeException](parse(
      "retention:\n  journal_path: /tmp/j\n  compact_store_path: /tmp/s\n" +
        "  delete_ids:\n    - sixty\n"))
    assert(badIds.getMessage.contains("retention.delete_ids"))
  }

  test("deduplication.journal_path reaches ColumnConfig") {
    val m = MiniYaml.parse(
      """deduplication:
        |  do_deduplication: true
        |  journal_path: /tmp/jj
        |""".stripMargin)
    val cc = PipelineConfig.columnConfig(m)
    assert(cc.dedup.isDefined)
    assert(cc.dedupJournalPath === Some("/tmp/jj"))
  }

  // ---------------- the E2E cycle ----------------

  test("Preprocessor journal_path -> Retention delete+compact == store " +
      "of the physically retained corpus; deleted content re-ingestable") {
    import spark.implicits._
    val stamp = System.nanoTime()
    val jPath = tmp(s"cfg_journal_$stamp")
    val sPath = tmp(s"cfg_store_$stamp")

    // run 1: config-driven pipeline with journaling on
    val kept = new Preprocessor(corpus, "text",
      cleaners = Seq.empty, filters = Seq.empty, dedup = Some(cfg),
      dedupOrderCol = Some("doc_id"),
      dedupJournalPath = Some(jPath)).run()
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds === Set(1L, 5L))

    // takedown of the class min (1) straight from YAML
    val rc = Retention.fromConfig(MiniYaml.parse(
      s"""retention:
         |  journal_path: $jPath
         |  delete_ids:
         |    - 1
         |  compact_store_path: $sPath
         |""".stripMargin)).get
    val store = Retention.run(spark, rc)

    // identity: compacting the delete-filtered journal == the banded
    // store of the physically retained kept corpus (just row 5)
    val expected = MinHashDedup.bandedStore(
      corpus.where($"doc_id" === 5L), "text", cfg, Some("doc_id"))
    def rows(s: DataFrame): Set[(Int, Seq[Byte], Long)] =
      s.collect().map(r => (r.getAs[Int]("band"),
        r.getAs[Array[Byte]]("bsig").toSeq, r.getAs[Long]("id"))).toSet
    assert(rows(store) === rows(expected))

    // re-ingestability: the deleted class survives a store increment,
    // the retained unrelated doc still blocks its own copy
    val batch = Seq(100L -> (base + " variant zero"),
      101L -> ("a completely unrelated document about shuffle " +
        "partitioning broadcast joins and adaptive query execution in " +
        "modern engines")).toDF("doc_id", "text")
    val survivors = MinHashDedup.deduplicateAgainstStore(batch, store,
      "text", cfg, orderCol = Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors === Set(100L))
  }

  test("delete_ids_path (parquet takedown list) and " +
      "compacted_journal_path both honor the block") {
    import spark.implicits._
    val stamp = System.nanoTime()
    val jPath = tmp(s"cfg_pjournal_$stamp")
    val idsPath = tmp(s"cfg_pids_$stamp")
    val sPath = tmp(s"cfg_pstore_$stamp")
    val j2Path = tmp(s"cfg_pjournal2_$stamp")

    MinHashDedup.bandedJournal(corpus, "text", cfg, Some("doc_id"))
      .write.mode("overwrite").parquet(jPath)
    // the takedown request arrives as a parquet id list (any column name)
    Seq(1L).toDF("takedown_doc").write.mode("overwrite").parquet(idsPath)

    val rc = Retention.fromConfig(MiniYaml.parse(
      s"""retention:
         |  journal_path: $jPath
         |  delete_ids_path: $idsPath
         |  delete_ids:
         |    - 9
         |  compact_store_path: $sPath
         |  compacted_journal_path: $j2Path
         |""".stripMargin)).get
    val store = Retention.run(spark, rc)

    // the surviving journal: ids 1 (path) and 9 (inline) both gone
    val j2 = spark.read.parquet(j2Path)
    assert(j2.select("id").distinct().collect().map(_.getLong(0)).toSet
      === Set(2L, 5L))
    // and the store is exactly its compaction
    def rows(s: org.apache.spark.sql.DataFrame): Set[(Int, Seq[Byte], Long)] =
      s.collect().map(r => (r.getAs[Int]("band"),
        r.getAs[Array[Byte]]("bsig").toSeq, r.getAs[Long]("id"))).toSet
    assert(rows(store) === rows(MinHashDedup.compactJournal(j2)))
    // in-place rewrites are refused, not silently corrupted — all three
    // collision shapes (r16 review)
    val clash1 = rc.copy(compactedJournalPath = Some(rc.journalPath))
    assert(intercept[IllegalArgumentException](Retention.run(spark, clash1))
      .getMessage.contains("must differ"))
    val clash2 = rc.copy(compactStorePath = rc.journalPath)
    assert(intercept[IllegalArgumentException](Retention.run(spark, clash2))
      .getMessage.contains("must differ"))
    val clash3 = rc.copy(compactedJournalPath = Some(rc.compactStorePath))
    assert(intercept[IllegalArgumentException](Retention.run(spark, clash3))
      .getMessage.contains("must differ"))
  }

  test("the retention: block consumes a STREAMING journal: ref journal " +
      "+ stream appends in one directory -> YAML takedown -> resume") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stamp = System.nanoTime()
    val jPath = tmp(s"cfg_sjournal_$stamp")
    val sPath = tmp(s"cfg_sstore_$stamp")

    // night 0: the retained corpus's journal seeds the SAME directory the
    // stream appends into (the production layout — one retention artifact)
    val ref = corpus.where($"doc_id" =!= 9L) // rows 1, 2, 5
    MinHashDedup.bandedJournal(ref, "text", cfg, Some("doc_id"))
      .write.mode("append").parquet(jPath)
    val store0 = MinHashDedup.compactJournal(spark.read.parquet(jPath))

    // the continuous pipeline: one journaling micro-batch
    val dedup = new graft.streaming.StreamingPipeline.StoreNearDedup(
      store0, "text", cfg, "doc_id")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val outPath = tmp(s"cfg_sout_$stamp")
    val q = graft.streaming.StreamingPipeline.foreachBatchStoreNearDedup(
      mem.toDF.toDF("doc_id", "text"), dedup, outPath,
      tmp(s"cfg_sckpt_$stamp"), journalPath = Some(jPath))
    val freshText = "a streamed survivor document about watermark " +
      "semantics and incremental retention journals in one directory"
    try {
      mem.addData(Seq(100L -> freshText, 101L -> (base + " variant one")))
      q.processAllAvailable()
    } finally q.stop()
    val gid100 = (1L << 62) + 100L

    // YAML takedown over the CO-MINGLED journal: the class min 1 AND the
    // streamed survivor (by its global id)
    val rc = Retention.fromConfig(MiniYaml.parse(
      s"""retention:
         |  journal_path: $jPath
         |  delete_ids:
         |    - 1
         |    - $gid100
         |  compact_store_path: $sPath
         |""".stripMargin)).get
    val store = Retention.run(spark, rc)

    // resumed increment: promotion (row 2 remains -> its copy dies),
    // streamed-survivor takedown (freshText re-ingestable)
    val resumeOff = graft.streaming.StreamingPipeline.resumeOffset(store)
    val batch = Seq(200L -> (base + " variant zero"), 201L -> freshText)
      .toDF("doc_id", "text")
    val kept = MinHashDedup.deduplicateAgainstStore(batch, store, "text",
      cfg, orderCol = Some("doc_id"), newIdOffset = resumeOff)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(201L))
  }

  test("journal_path without dedup, or without a data-derived order, " +
      "fails fast") {
    val noDedup = intercept[RuntimeException] {
      new Preprocessor(corpus, "text", Seq.empty, Seq.empty, dedup = None,
        dedupJournalPath = Some("/tmp/never")).run()
    }
    assert(noDedup.getMessage.contains("do_deduplication"))
    val noOrder = intercept[IllegalArgumentException] {
      new Preprocessor(corpus, "text", Seq.empty, Seq.empty,
        dedup = Some(cfg), dedupJournalPath = Some("/tmp/never")).run()
    }
    assert(noOrder.getMessage.contains("order column"))
  }
}
