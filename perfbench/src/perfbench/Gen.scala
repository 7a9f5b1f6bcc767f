package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every value is a pure function of (seed, row
  * index), so a seed always yields the same files whatever the core count,
  * and the program under test only ever sees the written parquet.
  */
final case class Texts(seed: Long) {

  /** Independent stream per (seed, stream, index). */
  def rng(stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(Texts.mix(Texts.mix(seed ^ Texts.mix(stream)) + i))

  /** 600 pronounceable lowercase words, fixed per seed. */
  val vocab: Array[String] = {
    val r = rng(0, 0)
    val on = Array("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p",
      "r", "s", "t", "v", "w", "st", "tr", "pl", "gr")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 600) {
      val syl = 1 + r.nextInt(3)
      seen += (0 until syl).map(_ =>
        on(r.nextInt(on.length)) + nu(r.nextInt(nu.length))).mkString
    }
    seen.toArray
  }

  def word(r: SplittableRandom, vocabSize: Int = vocab.length): String =
    vocab(r.nextInt(vocabSize))

  def words(r: SplittableRandom, n: Int, vocabSize: Int = vocab.length): String =
    (0 until n).map(_ => word(r, vocabSize)).mkString(" ")

  private val Ends = Array(".", ".", ".", "!", "?")

  def sentence(r: SplittableRandom, minW: Int, maxW: Int): String = {
    val w = words(r, minW + r.nextInt(maxW - minW + 1))
    w.capitalize + Ends(r.nextInt(Ends.length))
  }

  /** An assistant reply. Shapes spread over every flagship filter and
    * cleaner: too short / too long for the word-count bounds, uppercase
    * (lowercase ratio), repeated phrases (char repetition), no terminal
    * punctuation (completion), plus doubled spaces, typographic quotes
    * and blank lines for the three cleaners.
    */
  def response(key: Long): String = {
    val r = rng(1, key)
    val u = r.nextDouble()
    val text =
      if (u < 0.05) words(r, 1 + r.nextInt(4)) + "."
      else if (u < 0.10) (0 until 14).map(_ => sentence(r, 10, 14)).mkString(" ")
      else if (u < 0.15) sentence(r, 8, 20).toUpperCase
      else if (u < 0.20) {
        val phrase = words(r, 2)
        Seq.fill(6 + r.nextInt(10))(phrase).mkString(" ") + "."
      } else if (u < 0.27) words(r, 10 + r.nextInt(40))
      else (0 until 1 + r.nextInt(6)).map(_ => sentence(r, 4, 14))
        .mkString(if (r.nextDouble() < 0.1) "\n\n\n" else " ")
    val v = r.nextDouble()
    if (v < 0.15) text.replace(" ", "  ")
    else if (v < 0.25) "“" + text + "”"
    else text
  }

  /** Near copy: one word appended or the last word swapped, so the 5-gram
    * shingle sets stay well above the 0.7 dedup threshold.
    */
  def nearCopy(text: String, r: SplittableRandom): String = {
    val w = word(r)
    if (r.nextBoolean()) s"$text $w"
    else {
      val i = text.lastIndexOf(' ')
      if (i < 0) s"$text $w" else text.substring(0, i + 1) + w + "."
    }
  }

  /** A user turn; about 8% are uppercase and fail the instruction filter. */
  def instruction(key: Long): String = {
    val r = rng(2, key)
    val t = (0 until 1 + r.nextInt(3)).map(_ => sentence(r, 3, 12)).mkString(" ")
    if (r.nextDouble() < 0.08) t.toUpperCase else t
  }

  /** Word soup in the style of the engine's `documents` test table. */
  def soup(r: SplittableRandom, minW: Int, maxW: Int): String =
    words(r, minW + r.nextInt(maxW - minW + 1), vocabSize = 200)
}

object Texts {
  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

object Gen {

  /** Input files per table: at least twice the core count of the boxes
    * this runs on, so scan tasks outnumber cores.
    */
  val Files = 16

  val MessageType: StructType = StructType(Seq(
    StructField("content", StringType),
    StructField("do_train", BooleanType),
    StructField("role", StringType)))

  val ConversationSchema: StructType = StructType(Seq(
    StructField("conversation", ArrayType(MessageType)),
    StructField("source", StringType)))

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))

  private def write(spark: SparkSession, rows: org.apache.spark.rdd.RDD[Row],
      schema: StructType, path: String): Unit =
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(path)

  /** Key of conversation c's first assistant reply, which is always an
    * original; duplicated replies copy one of these.
    */
  private def anchorKey(c: Long): Long = c * 16 + 1

  /** `n` conversations in the reference schema, split over two datasets
    * (`ds_a`, `ds_b`) under `dir`. 2–12 turns each after an optional
    * System message; assistant turns are trained. About 10% of the
    * non-anchor replies are exact copies of another conversation's
    * anchor reply and 10% near copies.
    */
  def conversations(spark: SparkSession, seed: Long, n: Long, dir: String): Unit = {
    val texts = Texts(seed)
    val half = n / 2
    Seq(("ds_a", 0L, half), ("ds_b", half, n - half)).foreach {
      case (name, start, count) =>
        val src = s"gen/$name"
        val rows = spark.sparkContext
          .range(start, start + count, 1, Files)
          .map { c =>
            val r = texts.rng(3, c)
            val msgs = Seq.newBuilder[Row]
            if (r.nextDouble() < 0.3)
              msgs += Row(s"You are assistant number ${r.nextInt(50)}. " +
                "Answer briefly.", false, "System")
            val turns = 2 + r.nextInt(11)
            (0 until turns).foreach { t =>
              val key = c * 16 + t
              if (t % 2 == 0) msgs += Row(texts.instruction(key), false, "User")
              else {
                val u = if (t == 1) 1.0 else r.nextDouble()
                val text =
                  if (u < 0.1) texts.response(anchorKey(r.nextLong(n)))
                  else if (u < 0.2)
                    texts.nearCopy(texts.response(anchorKey(r.nextLong(n))), r)
                  else texts.response(key)
                msgs += Row(text, true, "Assistant")
              }
            }
            Row(msgs.result(), src)
          }
        write(spark, rows, ConversationSchema, s"$dir/$name")
    }
  }

  /** Near-duplicate families: `soupBases` word-soup docs with 1–5 copies
    * each (copy i > 0 gets a `variant$i` suffix), then `zipfDocs` docs
    * from 500 boilerplate templates drawn with Zipf(1.5) weights, so the
    * hottest template holds ~38% of that slice. Every Zipf doc carries
    * one unique tail token, so none is an exact copy. Returns the number
    * of docs written.
    */
  def families(spark: SparkSession, seed: Long, soupBases: Long, zipfDocs: Long,
      path: String): Long = {
    val texts = Texts(seed)
    def copies(b: Long): Int = 1 + texts.rng(4, b).nextInt(5)
    val soup = spark.sparkContext.range(0, soupBases * 5, 1, Files / 2)
      .flatMap { slot =>
        val b = slot / 5
        val i = (slot % 5).toInt
        if (i >= copies(b)) None
        else {
          val base = soupBase(texts, b)
          Some(Row(slot, if (i == 0) base else s"$base variant$i"))
        }
      }
    val templates = 500
    val cum = {
      val w = Array.tabulate(templates)(t => math.pow(t + 1.0, -1.5))
      val z = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / z)
    }
    val zipfBase = soupBases * 5
    val zipf = spark.sparkContext.range(0, zipfDocs, 1, Files / 2).map { j =>
      val i = java.util.Arrays.binarySearch(cum, texts.rng(6, j).nextDouble())
      val t = math.min(if (i >= 0) i else -i - 1, templates - 1)
      val id = zipfBase + j
      Row(id, (1 to 40).map(k => s"t${k}x$t").mkString(" ") + s" zz$id")
    }
    write(spark, soup.union(zipf), DocSchema, path)
    (0L until soupBases).map(copies(_).toLong).sum + zipfDocs
  }

  /** A new batch of `batchDocs` docs for the families corpus. By index
    * class, 30% are near copies of the corpus's word-soup bases, 10% copy
    * (exactly or nearly) a fresh batch doc, and 60% are fresh.
    */
  def batch(spark: SparkSession, seed: Long, soupBases: Long, batchDocs: Long,
      path: String): Unit = {
    val texts = Texts(seed)
    def fresh(j: Long): String = texts.soup(texts.rng(8, j), 20, 80)
    write(spark, spark.sparkContext.range(0, batchDocs, 1, Files).map { j =>
      val r = texts.rng(9, j)
      val text = (j % 10).toInt match {
        case 0 | 1 | 2 => texts.nearCopy(soupBase(texts, r.nextLong(soupBases)), r)
        case 9 => if (r.nextBoolean()) fresh(j - 5) else texts.nearCopy(fresh(j - 5), r)
        case _ => fresh(j)
      }
      Row(j, text)
    }, DocSchema, path)
  }

  private def soupBase(texts: Texts, b: Long): String =
    texts.soup(texts.rng(5, b), 20, 80)
}
