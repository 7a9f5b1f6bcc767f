package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.TermStats
import graft.text.AsciiGrams

/** Differential pin for the fused `[^a-z0-9_]+` tokenizer / n-gram
  * kernel (r19): element-identical to the composed
  * split+filter+transform chain it replaced in TermStats, the CMS gram
  * feed and Decon's distinct doc-grams. Unicode edges matter: the
  * kernel must lower BEFORE tokenizing exactly like `lower()` does —
  * Kelvin K lowers to ASCII 'k' (token char!) and İ to i + combining
  * dot, so a byte-level shortcut on the RAW text would diverge.
  */
class AsciiGramsSpec extends AnyFunSuite with SharedSession {

  private def texts = Seq(
    "", " ", "___", "The Quick  Brown-Fox_1 jumps!",
    "a b c d e f", "one", "UPPER lower 0123 _und_",
    "café du monde", // é is a separator under the ASCII class
    "Kel vin", // KELVIN SIGN lowers to ascii k -> "kel vin"
    "İstanbul", // İ lowers to i + combining dot -> "i", "stanbul"
    "доброе утро", "mixed кир ascii",
    "a-a-a-a-a-a-a-a b-b-b-b", "x  y\tz\nw")

  test("AsciiGrams.tokens == filter(split(lower, class), len>0)") {
    val s = spark
    import s.implicits._
    val df = texts.toDF("t")
    val fused = df.select(AsciiGrams.tokens(col("t")))
      .as[Seq[String]].collect().toSeq
    val composed = df.select(TermStats.wordsComposed(col("t")))
      .as[Seq[String]].collect().toSeq
    fused.zip(composed).zip(texts).foreach { case ((f, c), t) =>
      assert(f === c, s"tokenizer diverged on '$t'")
    }
    // the unicode-lowering edges really exercise what they claim
    assert(fused(texts.indexOf("Kel vin")) === Seq("kel", "vin"))
    assert(fused(texts.indexOf("İstanbul")).head === "i")
  }

  test("AsciiGrams.ngrams(n) == transform-chain n-grams, multiplicity kept") {
    val s = spark
    import s.implicits._
    val df = texts.toDF("t")
    for (n <- Seq(1, 2, 3, 13)) {
      val fused = df.select(AsciiGrams.ngrams(col("t"), n))
        .as[Seq[String]].collect().toSeq
      val composed = df
        .select(TermStats.wordsComposed(col("t")).as("__w__"))
        .select(TermStats.ngramsWithMultiplicity(col("__w__"), n))
        .as[Seq[String]].collect().toSeq
      fused.zip(composed).zip(texts).foreach { case ((f, c), t) =>
        assert(f === c, s"n=$n grams diverged on '$t'")
      }
    }
  }

  test("AsciiGrams.ngramsDistinct == array_distinct(ngrams), order kept") {
    val s = spark
    import s.implicits._
    val df = texts.toDF("t")
    for (n <- Seq(1, 2, 3)) {
      val fused = df.select(AsciiGrams.ngramsDistinct(col("t"), n))
        .as[Seq[String]].collect().toSeq
      val composed = df
        .select(array_distinct(AsciiGrams.ngrams(col("t"), n)))
        .as[Seq[String]].collect().toSeq
      assert(fused === composed, s"distinct n=$n diverged")
    }
  }
}
