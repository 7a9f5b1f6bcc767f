package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sampling.Mixture
import graft.scoring.NaiveBayes

/** Hand-computed goldens for the trained NB classifier (counts, ln
  * quantization — the one step the DuckDB oracle does not re-derive —
  * argmax/tie-break/OOV semantics) and the token-budget mixture ops.
  */
class ClassifierSpec extends AnyFunSuite with SharedSession {

  // 4 docs, 2 labels; df: b->3 a->2 d->2 c->1; V=3 keeps (b, a, d) —
  // exercises truncation AND the df-tie token-asc break (a vs d at df=2)
  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(("a a b", "pos"), ("a c", "pos"), ("b b d", "neg"), ("b d", "neg"))
      .toDF("text", "label")
  }

  test("trainCounts: dense integer grid matches hand-computed counts") {
    val got = NaiveBayes.trainCounts(corpus, "text", "label", 3)
      .orderBy("token", "label")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // vocab-restricted counts: pos a:3 b:1 d:0 (total 4); neg b:3 d:2 a:0
    // (total 5); c is cut at V=3
    val want = Seq(
      ("a", "neg", 0L, 2L, 5L, 2L), ("a", "pos", 3L, 2L, 4L, 2L),
      ("b", "neg", 3L, 3L, 5L, 2L), ("b", "pos", 1L, 3L, 4L, 2L),
      ("d", "neg", 2L, 2L, 5L, 2L), ("d", "pos", 0L, 2L, 4L, 2L))
    assert(got.toSeq === want)
  }

  test("train: micro-nat quantization is floor(StrictMath.log(p) * 1e6)") {
    val m = NaiveBayes.train(corpus, "text", "label", 3)
    assert(m.labels.toSeq === Seq("neg", "pos"))
    assert(m.vocabSize === 3)
    def micro(p: Double) = math.floor(StrictMath.log(p) * 1e6).toLong
    // Laplace: (cnt+1)/(tok_total+V)
    assert(m.weights("a").toSeq === Seq(micro(1.0 / 8), micro(4.0 / 7)))
    assert(m.weights("b").toSeq === Seq(micro(4.0 / 8), micro(2.0 / 7)))
    assert(m.weights("d").toSeq === Seq(micro(3.0 / 8), micro(1.0 / 7)))
    assert(m.priorsMicro.toSeq === Seq(micro(0.5), micro(0.5)))
  }

  test("predict: argmax, OOV drop, prior fallback, asc-label tie-break, margin") {
    val s = spark
    import s.implicits._
    val m = NaiveBayes.train(corpus, "text", "label", 3)
    val docs = Seq((1L, "a a"), (2L, "b d"), (3L, "c zz c"), (4L, "a a c"))
      .toDF("id", "text")
    val byId = NaiveBayes.predict(docs, m, "text")
      .select("id", "nb_label", "nb_score_micro", "nb_margin_micro")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    def micro(p: Double) = math.floor(StrictMath.log(p) * 1e6).toLong
    val sPosAa = micro(0.5) + 2 * micro(4.0 / 7)
    val sNegAa = micro(0.5) + 2 * micro(1.0 / 8)
    assert(byId(1L) === (("pos", sPosAa, sPosAa - sNegAa)))
    // doc 3 is all-OOV: equal priors, tie-break -> lexicographically
    // smallest label, margin 0
    assert(byId(3L) === (("neg", micro(0.5), 0L)))
    // doc 4 == doc 1 plus an OOV token: identical scores
    assert(byId(4L) === byId(1L))
    assert(byId(2L)._1 === "neg")
  }

  test("charGramsCol: all [2,4]-grams of the lowercased text, with multiplicity") {
    val s = spark
    import s.implicits._
    val got = Seq("AbAb", "x", "", "då gå").toDF("t")
      .select(NaiveBayes.charGramsCol(col("t"), 2, 4))
      .as[Seq[String]].collect().toSeq
    // width-major (all 2-grams, then 3-, then 4-), positions left-to-right;
    // "ab" appears twice in "abab" — multiplicity preserved
    assert(got(0) === Seq("ab", "ba", "ab", "aba", "bab", "abab"))
    // shorter than minN -> no features (the word-NB prior-fallback shape)
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq.empty)
    // code-point-based: 'å' counts as one character, same as DuckDB substr
    assert(got(3).take(4) === Seq("då", "å ", " g", "gå"))
  }

  test("char-gram NB separates multiscript OOV fragments where word NB falls to priors") {
    // VERDICT r8 #8: real CCNet-style lang-id uses char n-grams because
    // short docs are OOV-heavy under a word vocabulary. Train both
    // featurizers on the same corpus (2 docs per language, balanced so
    // word-NB's prior fallback has margin 0), score short fragments whose
    // WORDS are all unseen but whose character n-grams overlap their
    // language's training text heavily.
    val s = spark
    import s.implicits._
    val train = Seq(
      ("the quick brown fox jumps over the lazy dog and runs home", "en"),
      ("a cat sat on the mat with the happy dog near the open door", "en"),
      ("der schnelle braune fuchs springt über den faulen hund im wald", "de"),
      ("die katze sitzt auf der matte mit dem hund an der alten tür", "de"),
      ("быстрая коричневая лиса прыгает через ленивую собаку дома", "ru"),
      ("кошка сидит на коврике с собакой у двери в старом доме", "ru"))
      .toDF("text", "lang")
    val frags = Seq(
      (1L, "foxes jumping quickly", "en"),
      (2L, "schnellere füchse springen", "de"),
      (3L, "прыгающие лисицы", "ru"))
      .toDF("id", "text", "want")

    val wordM = NaiveBayes.train(train, "text", "lang", 200)
    val word = NaiveBayes.predict(frags, wordM, "text")
      .select("id", "want", "nb_label", "nb_margin_micro").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getLong(3)))).toMap
    // every fragment word is OOV -> scores are the (balanced) priors:
    // margin 0, label = lexicographically smallest regardless of script
    word.values.foreach { case (_, label, margin) =>
      assert(label === "de" && margin === 0L)
    }

    val feat: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => NaiveBayes.charGramsCol(c, 2, 4)
    val cgramM = NaiveBayes.train(train, "text", "lang", 2000, feat)
    val cgram = NaiveBayes.predict(frags, cgramM, "text", feat)
      .select("id", "want", "nb_label", "nb_margin_micro").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2),
        r.getLong(3)))).toMap
    // char grams recover the language AND separate it decisively
    cgram.values.foreach { case (want, label, margin) =>
      assert(label === want, s"char-gram NB mislabeled a $want fragment")
      assert(margin > 0L)
    }
    val improvement = cgram.values.map(_._3).min
    assert(improvement > 100000L, // >0.1 nats over the runner-up, per doc
      s"char-gram margins too thin: ${cgram.values.map(_._3)}")
  }

  test("gramCounts: per-needle OVERLAPPING occurrence counts, no lowering") {
    val s = spark
    import s.implicits._
    val needles = Array("aa", "ab", "då", "ж", "zz")
    val got = Seq("aaaa", "abab", "då gå då", "жж", "none", "")
      .toDF("t")
      .select(graft.text.MultiMatch.gramCounts(col("t"), needles))
      .collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getInt(0) -> r.getLong(1)).toMap)
    assert(got(0) === Map(0 -> 3L)) // "aa" overlaps: positions 0,1,2
    assert(got(1) === Map(1 -> 2L))
    assert(got(2) === Map(2 -> 2L)) // multibyte needle, byte-exact
    assert(got(3) === Map(3 -> 2L))
    assert(got(4) === Map.empty) // no vocab gram -> zero rows
    assert(got(5) === Map.empty)
  }

  test("trainCounts: DFA substring-haystack path == explode+join path (char grams)") {
    // The r19 one-scan vocab counter must produce the IDENTICAL dense grid:
    // multiscript text (2-4 byte codepoints), overlapping grams (aaaa),
    // mixed case (haystack = lower(text)), docs with no vocab grams, and a
    // vocab budget small enough to truncate (df-tie token-asc break live).
    val s = spark
    import s.implicits._
    val docs = Seq(
      ("The quick brown fox AAAA aaaa", "en"),
      ("der schnelle braune Fuchs über", "de"),
      ("быстрая лиса дома жж", "ru"),
      ("日本語のテキストです", "ja"),
      ("x", "en"), // shorter than minN: contributes nothing
      ("ababab ÅÅ åå", "de"))
      .toDF("text", "lang")
    val feat: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => NaiveBayes.charGramsCol(c, 2, 4)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("token", "label").collect().map(_.toSeq).toSeq
    for (v <- Seq(10, 50, 5000)) { // truncating AND non-truncating budgets
      val base = canon(NaiveBayes.trainCounts(docs, "text", "lang", v, feat))
      val dfa = canon(NaiveBayes.trainCounts(docs, "text", "lang", v, feat,
        substringHaystack = Some(lower(col("text")))))
      assert(dfa === base, s"DFA path diverged at vocabSize=$v")
    }
    // and the quantized models agree end to end
    val m1 = NaiveBayes.train(docs, "text", "lang", 50, feat)
    val m2 = NaiveBayes.train(docs, "text", "lang", 50, feat,
      substringHaystack = Some(lower(col("text"))))
    assert(m1.labels.toSeq === m2.labels.toSeq)
    assert(m1.priorsMicro.toSeq === m2.priorsMicro.toSeq)
    assert(m1.weights.keySet === m2.weights.keySet)
    m1.weights.foreach { case (t, w) =>
      assert(w.toSeq === m2.weights(t).toSeq, s"weight drift on gram '$t'")
    }
  }

  test("charGramsDistinctCol == array_distinct(charGramsCol), elements AND order") {
    val s = spark
    import s.implicits._
    val texts = Seq("AbAbAb", "x", "", "då gå då gå", "aaaaaa",
      "日本語の語の語", "the cat sat on the mat the cat")
    val df = texts.toDF("t")
    val composed = df.select(array_distinct(
      NaiveBayes.charGramsCol(col("t"), 2, 4))).as[Seq[String]].collect()
    val fused = df.select(
      NaiveBayes.charGramsDistinctCol(col("t"), 2, 4))
      .as[Seq[String]].collect()
    composed.zip(fused).zip(texts).foreach { case ((c, f), t) =>
      assert(f === c, s"distinct-gram kernel diverged on '$t'")
    }
  }

  test("predictTokens == predict with the default word featurizer") {
    val s = spark
    import s.implicits._
    val m = NaiveBayes.train(corpus, "text", "label", 3)
    // OOV-only, empty, mixed-case, unicode, repeated vocab tokens, and a
    // NULL doc (ADVICE r19: must get predict's priors fallback, not NULL)
    val docs = Seq((1L, "a a b"), (2L, "zz qq"), (3L, ""),
      (4L, "A a B d"), (5L, "день b день"), (6L, "c zz c"),
      (7L, null.asInstanceOf[String]))
      .toDF("id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "nb_label", "nb_score_micro", "nb_margin_micro")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
    assert(canon(NaiveBayes.predictTokens(docs, m, col("text"))) ===
      canon(NaiveBayes.predict(docs, m, "text")))
  }

  test("predictSubstring == predict for the char-gram featurizer") {
    val s = spark
    import s.implicits._
    val train = Seq(
      ("the quick brown fox jumps over the lazy dog", "en"),
      ("der schnelle braune fuchs springt über den zaun", "de"),
      ("быстрая лиса прыгает через забор дома", "ru"))
      .toDF("text", "lang")
    val feat: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => NaiveBayes.charGramsCol(c, 2, 4)
    val m = NaiveBayes.train(train, "text", "lang", 300, feat)
    // mixed case (haystack must be the lowercased text), OOV-only doc,
    // empty doc, multibyte, the zzunseen-append shape the query uses, and
    // a NULL doc (ADVICE r19: priors fallback, not a null-propagated row)
    val docs = Seq((1L, "Quick Foxes Jump"), (2L, "zz qq kk"), (3L, ""),
      (4L, "быстрая лиса zzunseen"), (5L, "Der Zaun springt zzunseen"),
      (6L, null.asInstanceOf[String]))
      .toDF("id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "nb_label", "nb_score_micro", "nb_margin_micro")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
    val viaGrams = canon(NaiveBayes.predict(docs, m, "text", feat))
    val viaDfa = canon(NaiveBayes.predictSubstring(docs, m,
      lower(col("text"))))
    assert(viaDfa === viaGrams)
  }

  test("NB scoring composes with Structured Streaming: stream == batch") {
    val s = spark
    import s.implicits._
    val m = NaiveBayes.train(corpus, "text", "label", 3)
    val batch = Seq((1L, "a a b"), (2L, "b d zz"), (3L, "c c"))
      .toDF("id", "text")
    val want = NaiveBayes.predict(batch, m, "text")
      .select("id", "nb_label", "nb_score_micro", "nb_margin_micro")
      .collect().map(_.toSeq).toSet
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    // the model is a closure constant: the same zero-shuffle scoring plan
    // applies per micro-batch with no state — streaming corpus scoring
    // needs no adaptation at all
    val out = NaiveBayes.predict(mem.toDF.toDF("id", "text"), m, "text")
      .select("id", "nb_label", "nb_score_micro", "nb_margin_micro")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("nbstream").start()
    try {
      mem.addData((1L, "a a b"), (2L, "b d zz"))
      q.processAllAvailable()
      mem.addData((3L, "c c"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("nbstream").collect().map(_.toSeq).toSet
    assert(got === want)
  }

  test("canonicalUrl: case, www, default ports, tracking params, fragment, trailing slash") {
    val s = spark
    import s.implicits._
    val got = Seq(
      "HTTPS://WWW.Example.COM:443/a/?utm_source=x&id=Q&fbclid=F#frag",
      "https://example.com/a?id=Q",
      "http://example.com:80/",
      "https://example.com/a?utm_campaign=z",
      "https://example.com/a?ref=tw&x=1&utm_medium=m",
      "not a url").toDF("u")
      .select(graft.analysis.Urls.canonicalUrl(col("u")))
      .as[String].collect().toSeq
    assert(got === Seq(
      "https://example.com/a?id=Q",
      "https://example.com/a?id=Q",
      "http://example.com",
      "https://example.com/a",
      "https://example.com/a?x=1",
      "not a url"))
  }

  private def mixCorpus = {
    val s = spark
    import s.implicits._
    // s1: 4 docs x 10 tokens (40 total); s2: 2 docs x 10 (20 total)
    val ten = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    ((1L to 4L).map(i => (i, "s1", ten)) ++
      Seq((5L, "s2", ten), (6L, "s2", ten))).toDF("id", "source", "text")
  }

  test("tokenBudgetPlan: integer epoch/remainder arithmetic, unbudgeted sources dropped") {
    val plan = Mixture.tokenBudgetPlan(
      mixCorpus.union(spark.range(1).selectExpr("CAST(90 AS BIGINT) AS id",
        "'s3' AS source", "'x' AS text")),
      "source", graft.text.Filters.wordCount(col("text")),
      Map("s1" -> 95L, "s2" -> 15L))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // s1: 95 = 2*40 + 15; s2: 15 = 0*20 + 15; s3 has no budget -> absent
    assert(plan.toSeq === Seq(("s1", 4L, 40L, 95L, 2L, 15L),
      ("s2", 2L, 20L, 15L, 0L, 15L)))
  }

  test("tokenBudgetSelect: greedy md5-order prefix within budget, repartition-invariant") {
    val budgets = Map("s1" -> 25L, "s2" -> 999L)
    def run(df: org.apache.spark.sql.DataFrame) =
      Mixture.tokenBudgetSelect(df, "id", "source",
        graft.text.Filters.wordCount(col("text")), budgets, seed = 7L)
        .select("id", "source", "toks", "cum_tokens")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getLong(3))).sortBy(_._1).toSeq
    val got = run(mixCorpus)
    assert(got === run(mixCorpus.repartition(7)))
    // s2's budget exceeds its mass: both docs kept
    assert(got.count(_._2 == "s2") === 2)
    // s1: 10-token docs, budget 25 -> exactly the first 2 in md5 order
    val s1Kept = got.filter(_._2 == "s1").map(_._1).toSet
    val order = mixCorpus.where(col("source") === "s1")
      .select(col("id"), md5(concat(lit("7:"), col("id").cast("string")))
        .as("k"))
      .orderBy("k", "id").collect().map(_.getLong(0)).toSeq
    assert(s1Kept === order.take(2).toSet)
    got.filter(_._2 == "s1").foreach { case (_, _, _, cum) =>
      assert(cum <= 25L)
    }
  }

  /** The r8 single-window formulation of `Mixture.tokenBudgetSelect`,
    * the equivalence reference (bucketed ≡ windowed on a multi-source
    * corpus). Never call this at scale: the per-source window is a
    * single-reducer sort.
    */
  private def tokenBudgetSelectWindowed(df: DataFrame, idCol: String,
      sourceCol: String, tokenCount: Column, budgets: Map[String, Long],
      seed: Long): DataFrame = {
    val w = Window.partitionBy(sourceCol)
      .orderBy(Mixture.md5Key(idCol, seed), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("toks", tokenCount)
      .join(broadcast(Mixture.budgetDf(df, sourceCol, budgets)), Seq(sourceCol))
      .withColumn("cum_tokens", sum(col("toks")).over(w))
      .where(col("cum_tokens") <= col("budget"))
      .drop("budget")
  }

  test("tokenBudgetSelect: bucketed two-phase prefix sum == single window") {
    // VERDICT r8 #2: the scale fix must not change one selected row or one
    // cum_tokens value. Corpus large enough that every source spans many
    // of the 256 md5-prefix buckets AND the budget cuts mid-bucket; doc
    // token counts vary so running totals are not trivially aligned.
    val s = spark
    import s.implicits._
    val docs = (1L to 900L).map { i =>
      val src = s"s${i % 3}"
      val words = (1 to (i % 7 + 1).toInt).map(j => s"t$j").mkString(" ")
      (i, src, words)
    }.toDF("id", "source", "text")
    // s0: truncates mid-stream; s1: keeps everything; s2: tiny budget
    // (forces a cut inside the very first buckets)
    val budgets = Map("s0" -> 600L, "s1" -> 100000L, "s2" -> 37L)
    val tok = graft.text.Filters.wordCount(col("text"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "source", "toks", "cum_tokens")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getLong(3))).sortBy(_._1).toSeq
    val bucketed = canon(
      Mixture.tokenBudgetSelect(docs, "id", "source", tok, budgets, 7L))
    val windowed = canon(
      tokenBudgetSelectWindowed(docs, "id", "source", tok, budgets,
        7L))
    assert(bucketed === windowed)
    assert(bucketed.nonEmpty && bucketed.size < 900) // both cut somewhere
    assert(bucketed.count(_._2 == "s1") === 300) // over-budget keeps all
  }

  test("materializeEpochs: full copies + remainder as the partial epoch") {
    // s1: 40 tokens, budget 95 -> epochs 0,1 complete + 15-token
    // remainder at epoch 2; s2: 20 tokens, budget 15 -> only a partial
    // epoch 0
    val budgets = Map("s1" -> 95L, "s2" -> 15L)
    val rows = Mixture.materializeEpochs(mixCorpus, "id", "source",
        graft.text.Filters.wordCount(col("text")), budgets, seed = 7L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSeq
    val s1 = rows.filter(_._2 == "s1")
    // epochs 0 and 1 each hold ALL 4 docs
    assert(s1.count(_._4 == 0L) == 4 && s1.count(_._4 == 1L) == 4)
    // epoch 2 is the 15-token remainder: exactly one 10-token doc fits
    val s1rem = s1.filter(_._4 == 2L)
    assert(s1rem.size == 1 && s1rem.head._3 == 10)
    // the remainder doc is the md5-order head (same key as
    // tokenBudgetSelect)
    val expectHead = Mixture.tokenBudgetSelect(mixCorpus, "id", "source",
        graft.text.Filters.wordCount(col("text")), Map("s1" -> 15L), 7L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(Set(s1rem.head._1) == expectHead)
    // s2 never completes an epoch: only epoch-0 remainder rows
    val s2 = rows.filter(_._2 == "s2")
    assert(s2.nonEmpty && s2.forall(_._4 == 0L))
    assert(s2.map(_._3).sum <= 15)
  }
}
