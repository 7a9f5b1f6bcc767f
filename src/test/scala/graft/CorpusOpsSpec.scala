package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.{Boilerplate, Compression}
import graft.sampling.Splits
import graft.text.Chunker

/** Batch-6 corpus-management operators: hash splits, per-group caps,
  * chunking, cross-doc boilerplate removal, compression-ratio signal.
  */
class CorpusOpsSpec extends AnyFunSuite with SharedSession {

  private def sf001 = "/root/testdata/sf0.001"

  test("hashSplit: proportions near fractions, exhaustive and disjoint") {
    import spark.implicits._
    val df = (0L until 10000L).toDF("id")
      .withColumn("split", Splits.hashSplit(col("id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    val counts = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 10000L)
    assert(math.abs(counts("train") - 8000L) < 200, counts)
    assert(math.abs(counts("val") - 1000L) < 100, counts)
    assert(math.abs(counts("test") - 1000L) < 100, counts)
  }

  test("hashSplit: fp-saturated cumulative fraction cannot misassign") {
    import spark.implicits._
    // a huge fraction followed by a tiny one pushes the intermediate
    // cumulative boundary to 1.0; unclamped, floor(1.0*65536) renders the
    // 5-char '10000', which sorts BELOW 'ffff' and sends ~15/16 of rows
    // to the tiny split
    val df = (0L until 4096L).toDF("id")
      .withColumn("split", Splits.hashSplit(col("id"),
        Seq("big" -> (1.0 - 1e-12), "tiny" -> 1e-12)))
    val counts = df.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // clamped boundary 'ffff' keeps at most the h == 'ffff' sliver
    // (~1/65536) in the tiny split
    assert(counts.getOrElse("big", 0L) >= 4090L, counts)
  }

  test("hashSplit: assignment is per-row stable — unchanged when corpus grows") {
    import spark.implicits._
    val small = (0L until 100L).toDF("id")
    val big = (0L until 1000L).toDF("id")
    def assign(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("split", Splits.hashSplit(col("id"),
        Seq("a" -> 0.5, "b" -> 0.5)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val fromSmall = assign(small)
    val fromBig = assign(big)
    assert(fromSmall.forall { case (id, s) => fromBig(id) == s })
  }

  test("capPerGroup: at most k per group, deterministic across runs") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    def run() = Splits.capPerGroup(docs, col("source"), col("doc_id"), 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = run()
    val sizes = Splits.capPerGroup(docs, col("source"), col("doc_id"), 3)
      .groupBy("source").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 3))
    assert(run() == kept)
    // repartitioning must not change the kept set
    val shuffled = Splits.capPerGroup(docs.repartition(7), col("source"),
      col("doc_id"), 3).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shuffled == kept)
  }

  test("chunker: non-overlapping chunks reassemble the document") {
    import spark.implicits._
    val df = Seq((1L, "abcdefghij"), (2L, "xyz"), (3L, "")).toDF("id", "text")
    val chunks = Chunker.chunk(df, "text", 4, 4, Seq(col("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(chunks.filter(_._1 == 1L).sortBy(_._2).map(_._3).mkString == "abcdefghij")
    assert(chunks.filter(_._1 == 2L).map(_._3).toSeq == Seq("xyz"))
    assert(!chunks.exists(_._1 == 3L)) // empty doc emits no chunks
  }

  test("chunker: overlapping windows share the stride suffix/prefix") {
    import spark.implicits._
    val text = "0123456789abcdefghij" // 20 chars; size 8 stride 5 -> 4 chunks
    val df = Seq((1L, text)).toDF("id", "text")
    val chunks = Chunker.chunk(df, "text", 8, 5, Seq(col("id")))
      .orderBy("chunk_id").collect().map(_.getString(2))
    assert(chunks.length == 4)
    assert(chunks(0) == "01234567" && chunks(1) == "56789abc")
    // window i starts at i*stride: overlap of size-stride chars
    chunks.sliding(2).foreach { case Array(a, b) =>
      assert(a.drop(5) == b.take(a.length - 5))
    }
  }

  test("boilerplate: frequent lines removed everywhere, order preserved") {
    import spark.implicits._
    val docs = (0 until 10).map { i =>
      (i.toLong, s"header common\nbody unique $i\nfooter common\ntail $i")
    }.toDF("doc_id", "text")
    val out = Boilerplate.removeFrequentLines(docs, "doc_id", "text", 4)
      .orderBy("doc_id").collect().map(_.getAs[String]("text"))
    out.zipWithIndex.foreach { case (t, i) =>
      assert(t == s"body unique $i\ntail $i", t)
    }
  }

  test("boilerplate: all-frequent document collapses to empty string") {
    import spark.implicits._
    val docs = ((0 until 5).map(i => (i.toLong, "only boilerplate")) :+
      (9L, "only boilerplate\nplus substance")).toDF("doc_id", "text")
    val out = Boilerplate.removeFrequentLines(docs, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "")
    assert(out(9L) == "plus substance")
  }

  test("decon overlap: subset scores 1.0, quote partial, clean 0") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // == benchmark doc
      (2L, "one two three four alpha beta gamma delta epsilon"), // quotes
      (3L, "totally different words here entirely now"), // clean
      (4L, "shorty") // < n words
    ).toDF("doc_id", "text")
    val r = graft.analysis.Decon.overlapScore(corpus, bench, "doc_id", "text", 5)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((2L, 2L, 1.0)))
    assert(r(2L)._3 > 0.0 && r(2L)._3 < 1.0)
    assert(r(3L) == ((2L, 0L, 0.0)))
    assert(r(4L) == ((0L, 0L, 0.0)))
  }

  test("decon bloom: counts equal the exact join's n_matched; no false" +
      " negatives") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta " +
      "theta iota kappa lambda mu nu xi")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi"), // exact copy: two 13-grams, both hit
      (2L, "prefix words then alpha beta gamma delta epsilon zeta eta " +
        "theta iota kappa lambda mu nu and a tail"), // embedded quote
      (3L, "totally different vocabulary spread over at least thirteen " +
        "words to form grams that match nothing in the benchmark set"),
      (4L, "shorty") // < n words: zero grams
    ).toDF("doc_id", "text")
    val bloom = graft.analysis.Decon.bloomContaminated(corpus, bench,
        "doc_id", "text", n = 13, expectedItems = 1000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    val exact = graft.analysis.Decon.overlapScore(corpus, bench,
        "doc_id", "text", 13)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // at fpp 1e-9 the Bloom count equals the exact distinct-gram join
    for ((id, (cnt, flag)) <- bloom) {
      assert(cnt == exact(id), s"doc $id: bloom $cnt != exact ${exact(id)}")
      assert(flag == (cnt > 0))
    }
    assert(bloom(1L)._1 == 2L && bloom(2L)._1 == 1L)
    assert(bloom(3L) == ((0L, false)) && bloom(4L) == ((0L, false)))
  }

  test("decon overlap: size guard drops the broadcast hint, results unchanged") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four alpha beta gamma delta epsilon"),
      (3L, "totally different words here entirely now")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val hinted = graft.analysis.Decon
      .overlapScore(corpus, bench, "doc_id", "text", 5)
    val guarded = graft.analysis.Decon
      .overlapScore(corpus, bench, "doc_id", "text", 5, maxBroadcastGrams = 0L)
    // above the threshold the plan carries no broadcast hint (Catalyst is
    // free to shuffle-join a benchmark too large for executor memory)...
    assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(!guarded.queryExecution.analyzed.toString.contains("ResolvedHint"))
    // ...and both paths compute identical scores
    assert(rows(hinted) == rows(guarded))
  }

  test("decon embedding: exact copy, near-copy and orthogonal rows") {
    import spark.implicits._
    val bench = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // exact copy: cos = 1
      (2L, Array(0.97f, 0.2f, 0.0f, 0.0f)), // near-copy: cos ~ 0.979
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal: cos = 0
      (4L, Array(0.6f, 0.8f, 0.0f, 0.0f)) // cos = 0.6 < tau
    ).toDF("vec_id", "embedding")
    val r = graft.analysis.Decon
      .embeddingContaminated(corpus, bench, "vec_id", "embedding", 0.9)
      .orderBy("vec_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getBoolean(2)))
    assert(r.toSeq == Seq((1L, 1L, true), (2L, 1L, true),
      (3L, 0L, false), (4L, 0L, false)))
  }

  test("leakage-safe split: clusters move whole, singletons match hashSplit") {
    import spark.implicits._
    val dupText = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val rows = (0L until 60L).map { i =>
      // ids 7, 23, 41 form one exact-duplicate cluster (root 7)
      val t = if (i == 7L || i == 23L || i == 41L) dupText
        else s"unique document number $i with its own words " +
          s"repeated nowhere else ${i * 31} ${i * 17} ${i * 13}"
      (i, t)
    }
    val df = rows.toDF("doc_id", "text")
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Splits.leakageSafeSplit(df, "text", "doc_id", fr)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(out.size == 60)
    // the whole cluster shares root 7 and root 7's split
    assert(out(7L)._1 == 7L && out(23L)._1 == 7L && out(41L)._1 == 7L)
    assert(Set(out(7L)._2, out(23L)._2, out(41L)._2).size == 1)
    // singletons root to themselves and match plain hashSplit
    val plain = df.select(col("doc_id"),
        Splits.hashSplit(col("doc_id"), fr).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (i <- 0L until 60L if i != 23L && i != 41L) {
      assert(out(i)._1 == i)
      assert(out(i)._2 == plain(i), s"doc $i")
    }
    // the reuse path — assignment over a pre-computed roots frame — is
    // the same function applied to clusterRoots, so it must agree
    val viaRoots = Splits.leakageSafeSplitFromRoots(
        graft.dedup.MinHashDedup.clusterRoots(df, "text",
          orderCol = Some("doc_id")), "doc_id", fr)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(viaRoots == out)
  }

  test("decon embedding: benchmark broadcasts, one corpus-side shuffle") {
    import spark.implicits._
    val df = (0L until 100L)
      .map(i => (i, Array.tabulate(8)(j => (i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val plan = graft.analysis.Decon
      .embeddingContaminated(df, df.where(col("vec_id") % 10 === 0),
        "vec_id", "embedding", 0.99)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("length histogram: non-positive lengths land in dedicated bucket 0") {
    import spark.implicits._
    val df = Seq((1L, -5L), (2L, 0L), (3L, 1L), (4L, 2L), (5L, 3L))
      .toDF("id", "len").withColumn("g", lit("g"))
    val h = graft.analysis.CorpusStats.lengthHistogram(df, "len", Seq("g"))
      .collect().map(r => r.getAs[Long]("len_bucket") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("min_len"),
          r.getAs[Long]("max_len"))).toMap
    assert(h(0L) == ((2L, -5L, 0L))) // -5 and 0 both in bucket 0
    assert(h(1L) == ((1L, 1L, 1L)))  // bucket 1 = [1,2) — no bin(0) collision
    assert(h(2L) == ((2L, 2L, 3L)))  // bucket 2 = [2,4)
  }

  test("length histogram: buckets partition the corpus with power-of-2 bounds") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val h = graft.analysis.CorpusStats
      .lengthHistogram(docs, "n_chars", Seq("source")).collect()
    assert(h.map(_.getAs[Long]("n_docs")).sum == docs.count())
    h.foreach { r =>
      val b = r.getAs[Long]("len_bucket")
      assert(r.getAs[Long]("min_len") >= (1L << (b - 1)), r)
      assert(r.getAs[Long]("max_len") < (1L << b), r)
    }
  }

  test("compression ratio: repetition compresses below prose; bounds hold") {
    import spark.implicits._
    val repetitive = "spam ham " * 200
    val prose = (0 until 400).map(i => s"w${i * 2654435761L % 99991}").mkString(" ")
    val df = Seq((1L, repetitive), (2L, prose), (3L, "")).toDF("id", "text")
    val r = df.select(col("id"), Compression.deflateRatio(col("text")).as("r"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) < 0.1, s"repetitive should compress hard: ${r(1L)}")
    assert(r(2L) > r(1L) * 3, s"prose should compress less: $r")
    assert(r(3L) == 1.0)
    assert(r.values.forall(v => v > 0.0 && v <= 1.5))
  }
}
