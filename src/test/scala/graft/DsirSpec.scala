package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sampling.{Dsir, DsirModel}

class DsirSpec extends AnyFunSuite with SharedSession {

  import spark.implicits._

  test("gramsCol: unigrams plus adjacent bigrams, edge cases") {
    val rows = Seq("alpha beta gamma", "solo", "", "Mixed CASE x")
      .toDF("t")
      .select(Dsir.gramsCol(col("t")).as("g"))
      .collect()
      .map(_.getSeq[String](0).toList)
    assert(rows(0) == List("alpha", "beta", "gamma",
      "alpha_beta", "beta_gamma"))
    assert(rows(1) == List("solo"))
    assert(rows(2) == Nil)
    // tokenizer lowercases first — bigrams follow the lowered tokens
    assert(rows(3) == List("mixed", "case", "x", "mixed_case", "case_x"))
  }

  test("hashBucket matches the documented md5-prefix construction") {
    // md5('hello') = 5d41402a... → 0x5d41402a = 1564557354 → % 64 = 42
    val b = Seq("hello").toDF("g")
      .select(Dsir.hashBucket(col("g"), 64).as("b"))
      .collect()(0).getLong(0)
    assert(b == 42L)
  }

  test("fit: hand-computable grid quantizes to the expected micro-nats") {
    // target: one doc "aa aa" → grams aa, aa, aa_aa (3 occurrences over
    // 2 buckets); raw adds a doc of "bb" → known dense grid at B=4 is
    // checked through the public countGrid, then the ln quantization is
    // verified against directly computed StrictMath values
    val B = 4
    val target = Seq((1L, "aa aa")).toDF("id", "t")
    val raw = Seq((1L, "aa aa"), (2L, "bb")).toDF("id", "t")
    val grid = Dsir.countGrid(target, raw, col("t"), B)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(grid.map(_._2).sum == 3L) // target gram occurrences
    assert(grid.map(_._3).sum == 4L) // raw adds bb
    val m = Dsir.fit(target, raw, col("t"), B)
    val tTot = 3L + B
    val rTot = 4L + B
    grid.foreach { case (b, tc, rc) =>
      val expect = math.floor(
        (StrictMath.log((tc + 1).toDouble / tTot)
          - StrictMath.log((rc + 1).toDouble / rTot)) * 1e6).toLong
      assert(m.lwMicro(b.toInt) == expect, s"bucket $b")
    }
  }

  test("score is the exact integer sum of bucket weights; empty doc = 0") {
    val model = DsirModel(8, Array.tabulate(8)(b => (b + 1) * 1000L))
    val df = Seq((1L, "x y"), (2L, "")).toDF("id", "t")
    val scored = Dsir.score(df, col("t"), model)
      .orderBy("id").collect()
    val buckets = Seq((1L, "x y")).toDF("id", "t")
      .select(Dsir.bucketsCol(col("t"), 8)).collect()(0)
      .getSeq[Long](0)
    val expect = buckets.map(b => (b + 1) * 1000L).sum
    assert(scored(0).getLong(2) == expect)
    assert(scored(1).getLong(2) == 0L)
  }

  test("selection skews toward the target distribution on testdata") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("_doc", concat(col("text"),
        when(col("lang") === "en", lit(" tgtalpha tgtalpha"))
          .otherwise(concat(lit(" other"), col("lang")))))
    val model = Dsir.fit(docs.where(col("lang") === "en"), docs,
      col("_doc"), 64)
    val en = docs.where(col("lang") === "en").count()
    val k = math.min(en, 20L).toInt
    val top = Dsir.topK(Dsir.score(docs, col("_doc"), model), "doc_id", k)
      .select("lang").as[String].collect()
    // the en marker dominates the target model: selection is (nearly)
    // pure en — allow one stray from shared-soup bigram noise
    assert(top.count(_ == "en") >= k - 1,
      s"top-$k contained ${top.count(_ == "en")} en docs")
  }

  test("DSIR scoring composes with Structured Streaming: stream == batch") {
    val target = Seq((1L, "aa bb aa")).toDF("id", "t")
    val raw = Seq((1L, "aa bb aa"), (2L, "cc dd"), (3L, "ee")).toDF("id", "t")
    val model = Dsir.fit(target, raw, col("t"), 16)
    val batch = Seq((1L, "aa bb"), (2L, "cc"), (3L, "")).toDF("id", "t")
    val want = Dsir.score(batch, col("t"), model)
      .select("id", "dsir_score_micro").collect().map(_.toSeq).toSet
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    // the weight table is a closure constant — the same zero-shuffle
    // scoring plan applies per micro-batch with no state, so streaming
    // importance scoring needs no adaptation (selection is the batch
    // step: top-k over a stream needs a window/trigger policy instead)
    val out = Dsir.score(mem.toDF.toDF("id", "t"), col("t"), model)
      .select("id", "dsir_score_micro")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dsirstream").start()
    try {
      mem.addData((1L, "aa bb"), (2L, "cc"))
      q.processAllAvailable()
      mem.addData((3L, ""))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dsirstream").collect().map(_.toSeq).toSet
    assert(got === want)
  }

  test("gumbelTopK: deterministic per seed, k rows, mostly high-score") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("_doc", concat(col("text"),
        when(col("lang") === "en", lit(" tgtalpha tgtalpha"))
          .otherwise(lit(" zz"))))
    val model = Dsir.fit(docs.where(col("lang") === "en"), docs,
      col("_doc"), 64)
    val scored = Dsir.score(docs, col("_doc"), model)
    val a = Dsir.gumbelTopK(scored, "doc_id", 10, seed = 7L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val b = Dsir.gumbelTopK(scored, "doc_id", 10, seed = 7L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val c = Dsir.gumbelTopK(scored, "doc_id", 10, seed = 8L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b) // same seed → same sample
    assert(a.size == 10 && c.size == 10)
    // Gumbel noise is micro-nat scale (≤ ~22e6 for u near 1) but the en
    // score gap dwarfs half the corpus: the sample still skews en
    val langs = docs.join(a.toDF("doc_id"), "doc_id")
      .select("lang").as[String].collect()
    assert(langs.count(_ == "en") >= 5)
  }
}
