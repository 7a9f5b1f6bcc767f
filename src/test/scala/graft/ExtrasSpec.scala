package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the scale extras: dedup variants, ANN recall, multimodal
  * plumbing, streaming parity, YAML config resolution.
  */
class ExtrasSpec extends AnyFunSuite with SharedSession {

  test("mini-yaml parses the reference config shape") {
    val cfg = graft.pipeline.MiniYaml.parse(
      """datasets:
        |  - dataset_path: some/path
        |  - dataset_path: other/path
        |output_dataset_path: out/path
        |verbose: true
        |response_config:
        |  cleaners:
        |    normalize_whitespace: true
        |    fix_utf8_encoding: false
        |  filters:
        |    check_word_number:
        |      args:
        |        min_word_threshold: 5
        |        max_word_threshold: 128
        |    check_completion:
        |  deduplication:
        |    do_deduplication: true
        |    minhash_config:    # reference ignores this block; so do we
        |      ngram_size: 9
        |    args:
        |      ngram_size: 5
        |      threshold: 0.7
        |""".stripMargin)
    assert(cfg("verbose") === true)
    assert(cfg("datasets").asInstanceOf[List[Any]].size === 2)
    val rc = cfg("response_config").asInstanceOf[Map[String, Any]]
    val col = graft.pipeline.PipelineConfig.columnConfig(rc)
    assert(col.cleaners.map(_._1) === Seq("normalize_whitespace"))
    assert(col.filters.map(_.name) ===
      Seq("check_word_number", "check_completion"))
    assert(col.dedup === Some(graft.dedup.MinHashConfig(5, 256, 0.7, 5)))
  }

  test("skew_salts YAML knob reaches MinHashConfig (VERDICT r13 #4)") {
    def dedupOf(argLine: String) = graft.pipeline.PipelineConfig.dedupFrom(
      graft.pipeline.MiniYaml.parse(
        s"""deduplication:
           |  do_deduplication: true
           |  args:
           |    threshold: 0.7$argLine
           |""".stripMargin)).get
    assert(!dedupOf("").skewProbe, "absent key keeps the plain window")
    assert(!dedupOf("\n    skew_salts: 0").skewProbe)
    assert(dedupOf("\n    skew_salts: auto").skewProbe)
    assert(dedupOf("\n    skew_salts: Auto").skewProbe,
      "case-insensitive (ADVICE r14)")
    // any other value must name the key, not throw a raw
    // NumberFormatException from inside parsing (ADVICE r14)
    for (v <- Seq("32", "16.0", "true")) {
      val e = intercept[RuntimeException] {
        dedupOf(s"\n    skew_salts: $v")
      }
      assert(e.getMessage.contains("skew_salts"), e.getMessage)
    }
  }

  test("side-channel claims only after a successful write (ADVICE r7)") {
    import graft.SideChannel
    val sf = "/root/testdata/sf0.001"
    val name = s"sidechannel_spec_${System.nanoTime()}"
    val df = spark.range(3).toDF("id")
    var bodies = 0
    // a FAILED write must leave the name unclaimed and retryable (a
    // claim-before-write design silently suppressed the export for the
    // JVM lifetime)
    intercept[java.io.IOException] {
      SideChannel.writeOnce(sf, name) { _ =>
        bodies += 1
        throw new java.io.IOException("write failed")
      }
    }
    assert(bodies == 1, "nothing may claim before the write lands")
    assert(SideChannel.writeOnce(sf, name) { p =>
      bodies += 1
      df.write.mode("overwrite").parquet(p)
    }, "a path whose write failed is written by the next call")
    // a successful write claims: later bodies are skipped and readers see
    // the bytes on disk
    assert(!SideChannel.writeOnce(sf, name) { _ => bodies += 1 },
      "successful write must claim")
    assert(spark.read.parquet(SideChannel.path(name)).count() == 3)
    assert(bodies == 2, "bodies run: the failed one and the successful one")
  }

  test("side-channel: two threads writing one fresh path run the body once") {
    import graft.SideChannel
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val sf = "/root/testdata/sf0.001"
    val name = s"sidechannel_race_${System.nanoTime()}"
    val bodies = new java.util.concurrent.atomic.AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    // the body outlasts the gap between the threads' claim checks, so
    // without the per-path lock both would run it
    val writers = (1 to 2).map(_ => Future {
      start.await()
      SideChannel.writeOnce(sf, name) { _ =>
        bodies.incrementAndGet()
        Thread.sleep(300)
      }
    })
    start.countDown()
    val ran = writers.map(Await.result(_, 30.seconds))
    assert(bodies.get == 1, "write body runs exactly once")
    assert(ran.count(identity) == 1, "exactly one caller reports the write")
    assert(!SideChannel.writeOnce(sf, name) { _ => bodies.incrementAndGet() })
  }

  test("simhash: identical docs collapse, distinct survive") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "spark catalyst tungsten codegen shuffle partitions broadcast join strategy")
    ).toDF("id", "text")
    val kept = graft.dedup.SimHash.deduplicate(docs, "text", 3)
      .select("id").as[Long].collect().toSet
    assert(kept.contains(0L) && !kept.contains(1L)) // exact dup collapses
    // near-dup collapses iff its actual signature distance is ≤ 3
    val d02 = java.lang.Long.bitCount(
      graft.dedup.SimHash.simhash64(
        "the quick brown fox jumps over the lazy dog near the river bank") ^
        graft.dedup.SimHash.simhash64(
          "the quick brown fox jumps over the lazy dog near the river bend"))
    assert(kept.contains(2L) === (d02 > 3), s"hamming=$d02")
    assert(kept.contains(3L))
  }

  test("ngram jaccard column math and two-stage dedup") {
    import spark.implicits._
    val df = Seq(
      ("a b c d e", "a b c d e"),
      ("a b c d e", "f g h i j"),
      ("a b c d e f", "b c d e f g")
    ).toDF("x", "y")
    val j = df.select(graft.dedup.NgramJaccard.jaccard(
      graft.dedup.NgramJaccard.wordNgrams(col("x"), 3),
      graft.dedup.NgramJaccard.wordNgrams(col("y"), 3)).as("j"))
      .as[Double].collect()
    assert(j(0) === 1.0)
    assert(j(1) === 0.0)
    // x grams: abc bcd cde def; y grams: bcd cde def efg → 3/5
    assert(math.abs(j(2) - 0.6) < 1e-12)

    val base = "the quick brown fox jumps over the lazy dog and runs far away"
    val docs = Seq((0L, base), (1L, base), (2L, "totally different content here about query engines and columnar formats"))
      .toDF("id", "text")
    val kept = graft.dedup.NgramJaccard.deduplicate(docs, "text", 3, 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept === Set(0L, 2L))
  }

  test("embedding dedup collapses near-identical vectors in a block") {
    import spark.implicits._
    val v = Array.fill(8)(0.5f)
    val v2 = v.clone(); v2(0) = 0.5001f          // cos ≈ 1
    val w = Array.tabulate(8)(i => if (i % 2 == 0) 1f else -1f) // cos ≈ 0
    val df = Seq((0L, 1, v.toSeq), (1L, 1, v2.toSeq), (2L, 1, w.toSeq),
      (3L, 2, v.toSeq)) // same vector, different block → survives
      .toDF("vec_id", "label", "embedding")
    val kept = graft.dedup.EmbeddingDedup
      .deduplicate(df, "embedding", "label", 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(0L, 2L, 3L))
  }

  test("hyperplane LSH bits agree for identical vectors") {
    import spark.implicits._
    val bits = graft.dedup.EmbeddingDedup.hyperplaneBits(4, 16)
    val df = Seq((0L, Seq(1f, 2f, 3f, 4f)), (1L, Seq(1f, 2f, 3f, 4f)))
      .toDF("id", "e")
    val keys = df.select(bits(col("e"))).as[Long].collect()
    assert(keys(0) === keys(1))
  }

  test("kmeans handles corpora smaller than k") {
    import spark.implicits._
    val tiny = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val cells = graft.similarity.Ann
      .kmeansAssign(tiny, "embedding", "vec_id", "cell", k = 8, iters = 3)
    assert(cells.count() === 2)
    assert(cells.select("cell").distinct().count() <= 2)
  }

  test("ivf ann with learned k-means cells reaches brute force") {
    val emb = Queries.table(spark, "/root/testdata/sf0.001", "embeddings")
    val cells = graft.similarity.Ann
      .kmeansAssign(emb, "embedding", "vec_id", "cell", k = 8, iters = 3)
    // every row lands in exactly one of the k cells
    val dist = cells.groupBy("cell").count().collect()
    assert(dist.map(_.getLong(1)).sum === emb.count())
    assert(dist.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 8))
    // sample-trained quantizer (the 100 TB build shape): training runs on
    // a fraction, but the assignment pass still covers every row
    val sampled = graft.similarity.Ann
      .kmeansAssign(emb, "embedding", "vec_id", "cell", k = 8, iters = 3,
        trainFraction = 0.3)
    assert(sampled.groupBy("cell").count().collect()
      .map(_.getLong(1)).sum === emb.count())
    val query = emb.orderBy("vec_id").limit(1)
    val brute = graft.similarity.Ann
      .bruteForceTopK(emb, query, "embedding", "vec_id", 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivfAll = graft.similarity.Ann
      .ivfTopK(cells, query, "embedding", "vec_id", "cell", 10, 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivfAll === brute) // nprobe = all cells → exact
    val ivf3 = graft.similarity.Ann
      .ivfTopK(cells, query, "embedding", "vec_id", "cell", 10, 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivf3.size === 10) // recall < 1 allowed, shape correct
    // learned cells must put the query's own vector in a probed cell:
    // the top-1 brute-force hit (the query itself, cos=1) survives IVF
    assert(ivf3.contains(query.select("vec_id").collect()(0).getLong(0)) ||
      ivf3.intersect(brute).size >= 5) // ≥50% recall at nprobe=3/8
  }

  test("pii redaction and line dedup edge cases") {
    import spark.implicits._
    import graft.text.Pii
    import graft.analysis.TextAnalysis
    val out = Seq(
      "mail a.b+c@x-corp.io or 10.1.2.3 acct 123456789 ok",
      "no pii here 123 1.2 v1.2.3.4.5",
      "").toDF("t")
      .select(Pii.redact(col("t")).as("r")).as[String].collect()
    assert(out(0) === "mail <EMAIL> or <IP> acct <NUM> ok")
    // 5-group version string: no \b between 'v' and '1', so the match
    // starts at the 2nd group (same in Java regex and RE2)
    assert(out(1) === "no pii here 123 1.2 v1.<IP>")
    assert(out(2) === "")
    val ld = Seq("a\nb\na\nc\nb\na", "x", "", "a\n\nb\n\na")
      .toDF("t").select(TextAnalysis.dedupLines(col("t")).as("r"))
      .as[String].collect()
    assert(ld(0) === "a\nb\nc")
    assert(ld(1) === "x")
    assert(ld(2) === "")
    assert(ld(3) === "a\n\nb") // blank line kept once
  }

  test("every preset stack instantiates and runs over sf0.001 documents") {
    import graft.pipeline.{Preprocessor, Presets}
    // '.' suffix so check_completion (terminal punctuation) can pass on
    // the word-soup corpus
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("response", concat(col("text"), lit(".")))
      .drop("text")
    // output stack in all flag combinations (nsfw / perplexity optional):
    // every stack must run end-to-end, and adding filters can only shrink
    // the kept set (the ppl band 300..10000 legitimately rejects the
    // synthetic word soup, so >0 is only asserted for the base stack)
    val counts = for (nsfw <- Seq(false, true); ppl <- Seq(false, true))
      yield (nsfw, ppl) -> new Preprocessor(docs, "response",
        Presets.outputTextCleaners,
        Presets.outputTextFilters(nsfw, ppl)).run().count()
    val base = counts.toMap.apply((false, false))
    assert(base > 0)
    counts.foreach { case ((nsfw, ppl), c) =>
      assert(c <= base, s"nsfw=$nsfw ppl=$ppl kept more than base")
    }
    // input stack
    val in = new Preprocessor(docs, "response",
      Presets.inputTextCleaners, Presets.inputTextFilters).run()
    assert(in.count() > 0)
    // truncation stack over a synthesized split column
    val tok = "<|truncation_splitter|>"
    val trunc = docs.withColumn("response",
      concat(col("response"), lit(tok), lit("unrelated edit")))
    val kept = Preprocessor.applyFilters(
      trunc, "response", Presets.truncationFilters(tok))
    assert(kept.count() === docs.count()) // edit never a substring -> all kept
  }

  // golden derived ONCE from the reference's own embed_func/UnionFind
  // over the same parquet, committed as minhash_golden_sf001.json
  private lazy val minhashGolden: Seq[Long] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getClassLoader
        .getResourceAsStream("minhash_golden_sf001.json"), "UTF-8")
    val js = try src.mkString finally src.close()
    assert("\"input_rows\": (\\d+)".r.findFirstMatchIn(js)
      .get.group(1).toInt === 500)
    "\"kept_doc_ids\": \\[([^\\]]*)\\]".r.findFirstMatchIn(js)
      .get.group(1).split(",").map(_.trim.toLong).toSeq
  }

  test("minhash dedup kept ids equal the reference's own python (sf0.01)") {
    // id-for-id equality, not just a count — at BOTH shingle configs
    // (ngram 3 = the bench query's; ngram 5 = the reference default /
    // flagship config; the reference keeps the same 476 at both, and so
    // must we)
    for (n <- Seq(3, 5)) {
      val kept = graft.dedup.MinHashDedup.deduplicate(
        Queries.table(spark, "/root/testdata/sf0.01", "documents"), "text",
        graft.dedup.MinHashConfig(ngramSize = n, minNgramSize = n))
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept === minhashGolden, s"ngram=$n")
    }
  }

  test("exact-substring trim removes cross-doc spans, keeps unique text") {
    import spark.implicits._
    val shared = "0123456789012345678901234567890123456789ABCDE" // 45 ch
    val df = Seq(
      (1L, "alpha " + shared + " omega"),
      (2L, "gamma " + shared + " delta"),
      (3L, "entirely unique text that has no forty-char overlap at all"))
      .toDF("id", "t")
    val spans = graft.dedup.ExactSubstring
      .repeatedSpans(df, "id", "t", 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // the common region is [4, 52): both prefixes end in "a ", both
    // suffixes start with " " — windows p ∈ [4, 12] merge to one span
    assert(spans === Set((1L, 4, 52), (2L, 4, 52)))
    val trimmed = graft.dedup.ExactSubstring
      .trimRepeatedSpans(df, "id", "t", 40)
      .orderBy("id").select("t").as[String].collect()
    assert(trimmed(0) === "alphomega")
    assert(trimmed(1) === "gammdelta")
    assert(trimmed(2).startsWith("entirely unique"))
  }

  test("partitioned packing degenerates to global packing for one bucket") {
    val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("tokens", graft.text.Filters.wordCount(col("text")))
    val global = graft.sampling.Packing
      .assignBins(docs, "tokens", Seq(col("doc_id")), 512)
      .select("doc_id", "bin").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val part = graft.sampling.Packing
      .assignBinsPartitioned(docs, "tokens", lit(0), Seq(col("doc_id")), 512)
      .select("doc_id", "bin").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(global === part)
    assert(global.values.max > 10) // actually packs into many bins
    // multi-bucket: emitted bin ids are globally unique scalars — two
    // buckets' local bin 0 must NOT collide, and no helper column leaks
    val two = graft.sampling.Packing
      .assignBinsPartitioned(docs, "tokens", pmod(col("doc_id"), lit(2)),
        Seq(col("doc_id")), 512)
    assert(two.columns.toSet === (docs.columns.toSet + "bin"))
    val perBucket = two
      .groupBy(pmod(col("doc_id"), lit(2)).as("b"))
      .agg(collect_set(col("bin")).as("bins"))
      .collect().map(r => r.getSeq[Long](1).toSet)
    assert(perBucket.length === 2)
    assert(perBucket(0).intersect(perBucket(1)).isEmpty)
  }

  test("decontamination flags only benchmark-quoting corpus spans") {
    import spark.implicits._
    val bench = "what is the capital of france answer paris obviously!"
    val corpus = Seq(
      (1L, "intro text then " + bench + " and a conclusion"),
      (2L, "twin doc one shares this exact long sentence with its twin"),
      (3L, "twin doc one shares this exact long sentence with its twin"))
      .toDF("id", "t")
    val benchDf = Seq((100L, bench)).toDF("id", "t")
    val spans = graft.dedup.ExactSubstring
      .contaminatedSpans(corpus, benchDf, "id", "t", 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // doc 1 contains the benchmark verbatim at [16, 16+53); docs 2/3
    // repeat each other but quote no benchmark -> NOT flagged
    assert(spans === Set((1L, 16, 16 + bench.length)))
  }

  test("incremental dedup drops new near-dups of the reference corpus") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs " +
      "far away from home"
    val ref = Seq((1L, base + " today"), (2L, "an entirely different " +
      "document about cooking pasta with fresh tomatoes and basil leaves"))
      .toDF("id", "text")
    val fresh = Seq(
      (10L, base + " tonight"),         // near-dup of ref 1 -> dropped
      (11L, "a brand new unique document describing mountain hiking " +
        "trails and alpine weather conditions in detail"), // kept
      (12L, "a brand new unique document describing mountain hiking " +
        "trails and alpine weather conditions in detail"), // dup of 11
      (13L, base + " yesterday"))       // near-dup of ref 1 -> dropped
      .toDF("id", "text")
    val kept = graft.dedup.MinHashDedup
      .deduplicateAgainst(fresh, ref, "text")
      .select("id").as[Long].collect().toSet
    assert(kept === Set(11L))
  }

  test("dedup kept sets are shuffle-partition independent") {
    // the r4 UnionFind bug made kept sets depend on partition layout;
    // this guards the whole family: same kept ids under different
    // shuffle-partition settings (which change every explicit
    // repartition() count via MinHashDedup.parallelism)
    def run(): Map[String, Seq[Long]] = {
      val docs = Queries.table(spark, "/root/testdata/sf0.001", "documents")
      Map(
        "simhash" -> graft.dedup.SimHash
          .deduplicate(docs, "text", maxHamming = 8),
        "ngram" -> graft.dedup.NgramJaccard
          .deduplicate(docs, "text", n = 3, threshold = 0.5),
        "minhash" -> graft.dedup.MinHashDedup.deduplicate(docs, "text",
          graft.dedup.MinHashConfig(ngramSize = 3, minNgramSize = 3))
      ).map { case (k, df) =>
        k -> df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      }
    }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val a = run()
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "11")
      val b = run()
      a.keys.foreach { k => assert(a(k) === b(k), s"$k diverged") }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("minhash dedup matches the reference golden at sf0.1 (5000 docs)") {
    val src = scala.io.Source.fromInputStream(
      getClass.getClassLoader
        .getResourceAsStream("minhash_golden_sf01.json"), "UTF-8")
    val js = try src.mkString finally src.close()
    val expected = "\"kept_doc_ids\": \\[([^\\]]*)\\]".r
      .findFirstMatchIn(js).get.group(1)
      .split(",").map(_.trim.toLong).toSeq
    assert(expected.length === 4756)
    val kept = graft.dedup.MinHashDedup.deduplicate(
      Queries.table(spark, "/root/testdata/sf0.1", "documents"), "text",
      graft.dedup.MinHashConfig(ngramSize = 3, minNgramSize = 3))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === expected)
  }

  test("oracled minhash twin reproduces the flagship's output row set") {
    // flagship_e2e_minhash is DuckDB-oracled; the headline
    // flagship_chat_pipeline is not directly oracle-able (array-typed
    // internals). This parity check makes the oracle transitive: twin ≡
    // flagship ∧ twin ≡ DuckDB ⇒ flagship ≡ DuckDB. The two plans are
    // structurally different (window-rendered prefixes vs join-rebuilt
    // arrays), so agreement is meaningful.
    val dir = "/root/testdata/sf0.001"
    val flagship = QueriesChat.flagship.run(spark, dir)
      .collect().map(r => (r.getString(1), r.getString(0))).toSet
    val twin = QueriesChat.runMinhash(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(twin.nonEmpty)
    assert(flagship === twin,
      s"only-flagship=${(flagship -- twin).take(2)} " +
        s"only-twin=${(twin -- flagship).take(2)}")
  }

  test("flagship minhash-path kept set matches the committed sf0.1 golden") {
    // pins the HEADLINE query's own kept rows (the minhash twin of the
    // DuckDB-oracled flagship_e2e_exact), keyed by the data-derived
    // keep-first id custkey*2^20 + pos0
    val src = scala.io.Source.fromInputStream(
      getClass.getClassLoader
        .getResourceAsStream("flagship_golden_sf01.json"), "UTF-8")
    val js = try src.mkString finally src.close()
    val expected = "\"kept_mids\": \\[([^\\]]*)\\]".r
      .findFirstMatchIn(js).get.group(1)
      .split(",").map(_.trim.toLong).toSeq
    assert(expected.length === 547)
    val kept = graft.chat.ChatPipeline
      .flagshipKept(spark, "/root/testdata/sf0.1")
      .select("__mid__").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === expected)
  }

  test("distributed clustering path matches the reference golden too") {
    // maxDriverEdges = 0 forces the 100 TB min-label-propagation branch;
    // it must produce the exact same kept set as the driver UnionFind
    val kept = graft.dedup.MinHashDedup.deduplicate(
      Queries.table(spark, "/root/testdata/sf0.01", "documents"), "text",
      graft.dedup.MinHashConfig(ngramSize = 3, minNgramSize = 3),
      maxDriverEdges = 0L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === minhashGolden)
  }

  test("multimodal decode plumbing: batch path == udf path") {
    import spark.implicits._
    val bin = Seq((1L, "hello world"), (2L, "x"), (3L, ""))
      .toDF("id", "t")
      .select(col("id"), col("t").cast("binary").as("media"))
    val viaBatch = graft.multimodal.Multimodal.decodeMeta(bin, "media")
      .select("id", "meta.width", "meta.height", "meta.codec")
      .as[(Long, Int, Int, String)].collect().toSet
    val viaUdf = bin.withColumn("meta",
      graft.multimodal.Multimodal.decodeMetaUdf(col("media")))
      .select("id", "meta.width", "meta.height", "meta.codec")
      .as[(Long, Int, Int, String)].collect().toSet
    assert(viaBatch === viaUdf)
    assert(viaBatch.size === 3)
    // resize keeps aspect-ish floor semantics
    val resized = bin.withColumn("meta",
      graft.multimodal.Multimodal.decodeMetaUdf(col("media")))
      .select(graft.multimodal.Multimodal.resizeMeta(col("meta"), 10))
      .collect()
    resized.foreach { r =>
      val m = r.getStruct(0)
      assert(m.getInt(0) <= 10 && m.getInt(1) <= 10)
    }
  }

  test("real header decode: png ihdr, jpeg sofn, gif screen, stub fallback") {
    import graft.multimodal.Multimodal
    // PNG: signature + IHDR(width=640, height=360)
    val png = Array[Int](
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0x02, 0x80, /* 640 */ 0, 0, 0x01, 0x68, /* 360 */
      8, 6, 0, 0, 0).map(_.toByte)
    assert(Multimodal.decodeBytes(png) === ((640, 360, "png")))
    // JPEG: SOI, APP0 (skipped), SOF0 with height=480 width=320
    val jpeg = Array[Int](
      0xff, 0xd8,
      0xff, 0xe0, 0x00, 0x04, 'J', 'F', // APP0, len 4 => 2 payload bytes
      0xff, 0xc0, 0x00, 0x0b, 8,
      0x01, 0xe0, /* h=480 */ 0x01, 0x40, /* w=320 */ 1, 0x11, 0, 0
    ).map(_.toByte)
    assert(Multimodal.decodeBytes(jpeg) === ((320, 480, "jpeg")))
    // progressive marker C2 is a SOF too
    val jpegC2 = jpeg.clone(); jpegC2(9) = 0xc2.toByte
    assert(Multimodal.decodeBytes(jpegC2) === ((320, 480, "jpeg")))
    // GIF89a logical screen 100x50 (little-endian)
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x64, 0x00, 0x32, 0x00).map(_.toByte))
    assert(Multimodal.decodeBytes(gif) === ((100, 50, "gif")))
    // unrecognized bytes fall back to the deterministic stub
    val text = "hello world".getBytes("UTF-8")
    assert(Multimodal.decodeBytes(text) === Multimodal.decodeStub(text))
    // truncated magic prefixes never throw
    assert(Multimodal.decodeBytes(Array[Byte](0xff.toByte, 0xd8.toByte))
      === Multimodal.decodeStub(Array[Byte](0xff.toByte, 0xd8.toByte)))
    assert(Multimodal.decodeBytes("GIF89a".getBytes("US-ASCII"))
      === Multimodal.decodeStub("GIF89a".getBytes("US-ASCII")))
  }

  test("wav header decode: chunk walk, alignment, hostile sizes") {
    import graft.multimodal.Multimodal
    def le(v: Long, n: Int): Array[Byte] =
      Array.tabulate(n)(k => ((v >> (8 * k)) & 0xff).toByte)
    def ascii(s: String) = s.getBytes("US-ASCII")
    val fmtChunk = ascii("fmt ") ++ le(16, 4) ++ le(1, 2) ++ le(1, 2) ++
      le(8000, 4) ++ le(8000, 4) ++ le(1, 2) ++ le(8, 2)
    val dataHdr = ascii("data") ++ le(8000, 4)
    // canonical 44-byte header: mono 8 kHz 8-bit, 8000 data bytes = 1 s
    val wav = ascii("RIFF") ++ le(36 + 8000, 4) ++ ascii("WAVE") ++
      fmtChunk ++ dataHdr
    assert(Multimodal.decodeWav(wav) === Some((1, 8000, 8, 1000L)))
    // an odd-sized unknown chunk before fmt must be skipped WITH its pad
    // byte (RIFF chunks are word-aligned)
    val odd = ascii("RIFF") ++ le(36 + 8000 + 12, 4) ++ ascii("WAVE") ++
      (ascii("junk") ++ le(3, 4) ++ Array[Byte](1, 2, 3, 0)) ++
      fmtChunk ++ dataHdr
    assert(Multimodal.decodeWav(odd) === Some((1, 8000, 8, 1000L)))
    // chunk order is not assumed: data (with its payload present to
    // walk over) before fmt still resolves
    val swapped = ascii("RIFF") ++ le(36 + 8000, 4) ++ ascii("WAVE") ++
      dataHdr ++ new Array[Byte](8000) ++ fmtChunk
    assert(Multimodal.decodeWav(swapped) === Some((1, 8000, 8, 1000L)))
    // truncated header, non-RIFF bytes, RIFF-but-not-WAVE: all None
    assert(Multimodal.decodeWav(ascii("RIFF") ++ le(4, 4) ++
      ascii("WAVE")).isEmpty)
    assert(Multimodal.decodeWav(ascii("hello world, not audio at all!!!"))
      .isEmpty)
    assert(Multimodal.decodeWav(ascii("RIFF") ++ le(100, 4) ++
      ascii("AVI ") ++ fmtChunk ++ dataHdr).isEmpty)
    // a hostile 0xFFFFFFFF declared size must neither hang nor wrap
    val hostile = ascii("RIFF") ++ le(100, 4) ++ ascii("WAVE") ++
      ascii("junk") ++ le(0xffffffffL, 4) ++ fmtChunk ++ dataHdr
    assert(Multimodal.decodeWav(hostile).isEmpty)
    // stereo 16-bit: duration uses the DECLARED data size over byteRate
    val st = ascii("RIFF") ++ le(36 + 64000, 4) ++ ascii("WAVE") ++
      (ascii("fmt ") ++ le(16, 4) ++ le(1, 2) ++ le(2, 2) ++
        le(16000, 4) ++ le(64000, 4) ++ le(4, 2) ++ le(16, 2)) ++
      (ascii("data") ++ le(32000, 4))
    assert(Multimodal.decodeWav(st) === Some((2, 16000, 16, 500L)))
  }

  test("mp4 header decode: box walk, versions, largesize, hostile sizes") {
    import graft.multimodal.Multimodal
    def be(v: Long, n: Int): Array[Byte] =
      Array.tabulate(n)(k => ((v >> (8 * (n - 1 - k))) & 0xff).toByte)
    def ascii(s: String) = s.getBytes("US-ASCII")
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be(8L + payload.length, 4) ++ ascii(typ) ++ payload
    val ftyp = box("ftyp", ascii("isom") ++ be(0, 4))
    // mvhd v0: ts 600, duration 1500 → 2500 ms
    val mvhd0 = box("mvhd", be(0, 4) ++ be(0, 4) ++ be(0, 4) ++
      be(600, 4) ++ be(1500, 4) ++ new Array[Byte](80))
    // tkhd v0: 640x360 (16.16 fixed)
    val tkhd0 = box("tkhd", be(0, 4) ++ new Array[Byte](8) ++ be(1, 4) ++
      new Array[Byte](60) ++ be(640L << 16, 4) ++ be(360L << 16, 4))
    val mp4 = ftyp ++ box("moov", mvhd0 ++ box("trak", tkhd0))
    assert(Multimodal.decodeMp4(mp4) === Some(("isom", 2500L, 640, 360)))
    // v1 layouts (64-bit times), trak BEFORE mvhd, junk free box between
    val mvhd1 = box("mvhd", be(1L << 24, 4) ++ new Array[Byte](16) ++
      be(1000, 4) ++ be(123456L, 8) ++ new Array[Byte](80))
    val tkhd1 = box("tkhd", be(1L << 24, 4) ++ new Array[Byte](16) ++
      be(1, 4) ++ new Array[Byte](64) ++ be(1280L << 16, 4) ++
      be(720L << 16, 4))
    val mp4v1 = ftyp ++ box("free", Array[Byte](1, 2, 3)) ++
      box("moov", box("trak", tkhd1) ++ mvhd1)
    assert(Multimodal.decodeMp4(mp4v1) === Some(("isom", 123456L, 1280, 720)))
    // an AUDIO trak (width 0) must be skipped in favor of the video one
    val tkhdAud = box("tkhd", be(0, 4) ++ new Array[Byte](8) ++ be(2, 4) ++
      new Array[Byte](60) ++ be(0, 4) ++ be(0, 4))
    val mp4au = ftyp ++
      box("moov", mvhd0 ++ box("trak", tkhdAud) ++ box("trak", tkhd0))
    assert(Multimodal.decodeMp4(mp4au) === Some(("isom", 2500L, 640, 360)))
    // size==1 → 64-bit largesize; size==0 → box runs to the end
    val moovPay = mvhd0 ++ box("trak", tkhd0)
    val large = ftyp ++ (be(1, 4) ++ ascii("moov") ++
      be(16L + moovPay.length, 8) ++ moovPay)
    assert(Multimodal.decodeMp4(large) === Some(("isom", 2500L, 640, 360)))
    val toEnd = ftyp ++ (be(0, 4) ++ ascii("moov") ++ moovPay)
    assert(Multimodal.decodeMp4(toEnd) === Some(("isom", 2500L, 640, 360)))
    // no ftyp / no mvhd / not-boxes: None — and a hostile declared size
    // (0xFFFFFFFF and a negative largesize) must neither hang nor wrap,
    // keeping fields already seen
    assert(Multimodal.decodeMp4(box("moov", mvhd0)).isEmpty)
    assert(Multimodal.decodeMp4(ftyp ++ box("moov", box("trak", tkhd0)))
      .isEmpty)
    assert(Multimodal.decodeMp4(ascii("this is not an iso-bmff file at all"))
      .isEmpty)
    val hostile = ftyp ++ box("moov", mvhd0) ++
      (be(0xffffffffL, 4) ++ ascii("mdat")) ++ box("moov", mvhd0)
    assert(Multimodal.decodeMp4(hostile) === Some(("isom", 2500L, 0, 0)))
    val negLarge = ftyp ++ box("moov", mvhd0) ++
      (be(1, 4) ++ ascii("mdat") ++ be(-1L, 8))
    assert(Multimodal.decodeMp4(negLarge) === Some(("isom", 2500L, 0, 0)))
    // truncated mvhd payload: walk survives, but no duration → None
    assert(Multimodal.decodeMp4(ftyp ++ box("moov",
      box("mvhd", be(0, 4) ++ be(0, 4)))).isEmpty)
  }

  test("streaming windowed agg matches its batch twin") {
    val dir = "/root/testdata/sf0.001"
    // the batch twin built with windowedEventCounts' EXACT agg shape
    // (double sum) — the suite query ev_windowed_agg now emits an
    // integer-scaled sum for cross-engine oracle hashing (r16) and is
    // no longer shape-identical to the streaming operator
    val batch = Queries.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").cast("long").as("window_start_epoch"),
        col("event_type"), col("n"), col("total_value"))
      .collect().map(_.toSeq).toSet
    val stream = graft.streaming.StreamingPipeline.windowedEventCounts(
      Queries.normalizeEventTs(
        graft.streaming.StreamingPipeline.eventsStream(spark, dir)))
    val q = stream.writeStream
      .outputMode("complete")
      .format("memory").queryName("winagg").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("winagg")
      .orderBy("window_start_epoch", "event_type")
      .collect().map(_.toSeq).toSet
    assert(got === batch)
  }

  test("streaming hll registers match batch; state bounded at 2^p by construction") {
    // Sketch.hllRegisters is a plain select + groupBy-max, so the SAME
    // function runs as a streaming aggregation: the registers ARE the
    // state, bounded at 2^p rows regardless of stream length — the
    // always-on "distinct tokens so far" counter needs no watermark.
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val regs = graft.analysis.Sketch.hllRegisters(
      stream.select(explode(
        graft.analysis.TermStats.words(col("text"))).as("tok")), "tok", 9)
    val q = regs.writeStream.outputMode("complete")
      .format("memory").queryName("hllregs").start()
    q.processAllAvailable()
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
    q.stop()
    val got = spark.table("hllregs")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val batch = graft.analysis.Sketch.hllRegisters(
      Queries.table(spark, dir, "documents").select(explode(
        graft.analysis.TermStats.words(col("text"))).as("tok")), "tok", 9)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === batch)
    assert(stateRows.exists(n => n > 0 && n <= 512), s"state=$stateRows")
  }

  test("streaming clean+filter runs the same operators as batch") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
    val cleaned = graft.streaming.StreamingPipeline.cleanFilter(
      stream, "text",
      Seq("normalize_whitespace" -> graft.text.Cleaners.normalizeWhitespace),
      Seq(graft.text.Filters.checkWordNumber(20, 60)))
    val q = cleaned.writeStream.outputMode("append")
      .format("memory").queryName("cf").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cf").count()
    val batch = Queries.table(spark, dir, "documents")
      .where(graft.text.Filters.checkWordNumber(20, 60).keep(col("text")))
      .count()
    assert(streamed === batch)
  }

  test("streaming near-dedup collapses same-signature docs with state") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far"
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:01"), base),
      (2L, java.sql.Timestamp.valueOf("2026-01-01 00:00:02"), base),
      (3L, java.sql.Timestamp.valueOf("2026-01-01 00:00:03"),
        "a completely different and unrelated piece of text entirely"))
    val dir = freshDir("stream_nd").toString
    rows.toDF("id", "ts", "text").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val out = graft.streaming.StreamingPipeline
      .streamingNearDedup(stream, "text", "ts")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("nd").start()
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("nd").select("id").as[Long].collect().toSet
    assert(kept.size === 2)
    assert(kept.contains(3L))
    assert(kept.intersect(Set(1L, 2L)).size === 1)
  }

  test("streaming exact dedup drops within the watermark and re-admits beyond it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamingPipeline.streamingExactDedup(
      mem.toDF.toDF("id", "ts", "text"), "text", "ts", "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("wmdedup").start()
    try {
      // batch 1: a duplicate INSIDE the delay window is dropped
      mem.addData((1L, t(0), "aaa"), (2L, t(1), "aaa"))
      q.processAllAvailable()
      // batch 2: advance the watermark far past aaa's expiry (100-10 > 0+10)
      mem.addData((3L, t(100), "bbb"))
      q.processAllAvailable()
      // batch 3: the SAME text after state eviction is re-admitted — the
      // bounded-state trade dropDuplicatesWithinWatermark makes explicit
      // (plain dropDuplicates would hold the key forever)
      mem.addData((4L, t(101), "aaa"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("wmdedup").select("id").as[Long].collect().toSet
    // which same-batch duplicate survives is partition-order-dependent;
    // the contract is: exactly one of them, plus the evicted-key re-admit
    assert(kept.size === 3)
    assert(kept.intersect(Set(1L, 2L)).size === 1)
    assert(kept.contains(3L) && kept.contains(4L))
  }

  test("sql function registration exposes custom expressions") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_strip('  x  ') AS a, " +
        "graft_char_map_punct('，。') AS b, " +
        "graft_contains_unwanted('as an ai language model…') AS c, " +
        "graft_nsfw_count('xxx and more xxx') AS d").head()
    assert(r.getString(0) === "x")
    assert(r.getString(1) === ",.")
    assert(r.getBoolean(2))
    // lexicon holds both 'xx' and 'xxx': each 'xxx' counts 1+1 (Σ needles)
    assert(r.getLong(3) === 4L)
  }

  test("typed conversation api matches column api") {
    import spark.implicits._
    val conv = Seq(
      (Seq(("hi", false, "User"), ("hello!", true, "Assistant")), "s1")
    ).toDF("msgs", "source")
      .select(transform(col("msgs"), m => struct(
        m.getField("_1").as("content"), m.getField("_2").as("do_train"),
        m.getField("_3").as("role"))).as("conversation"), col("source"))
    val typed = graft.chat.TypedConversations.explodeToIo(
      graft.chat.TypedConversations.typed(conv))
    val viaColumns = graft.chat.Conversations.addContentColumns(
      graft.chat.Conversations.explodeToInputOutput(conv))
      .select("instruction", "response").as[(String, String)].collect().toSet
    val viaTyped = typed.collect()
      .map(r => (r.instruction, r.response)).toSet
    assert(viaTyped === viaColumns)
  }

  test("bucketed publish round-trips and joins without shuffle of sides") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    graft.sources.Sources.publishBucketed(df, "graft_bucket_test", "id", 4)
    val back = spark.table("graft_bucket_test")
    assert(back.count() === 100)
    spark.sql("DROP TABLE graft_bucket_test")
  }

  test("session window counts over the events stream") {
    val dir = "/root/testdata/sf0.001"
    val stream = Queries.normalizeEventTs(
      graft.streaming.StreamingPipeline.eventsStream(spark, dir))
    val q = graft.streaming.StreamingPipeline
      .sessionWindowCounts(stream, gap = "1 hour")
      .writeStream.outputMode("complete")
      .format("memory").queryName("sess").start()
    q.processAllAvailable()
    q.stop()
    val sess = spark.table("sess")
    assert(sess.count() > 0)
    assert(sess.where(col("session_end") <= col("session_start")).count() === 0)
  }

  test("renames: dry-run prefixing skips protected and prefixed columns") {
    import spark.implicits._
    val df = Seq((1, "a", "b", 0.5)).toDF("user_id", "output_text",
      "other", "score__x")
    val out = graft.pipeline.Renames.renameDryRunColumns(df, "resp")
    assert(out.columns.toSet ===
      Set("user_id", "output_text", "resp__other", "score__x"))
  }
}
