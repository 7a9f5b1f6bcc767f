package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.{Cleaners, Filters}

/** Per-operator throughput (rows/s): each cleaner/filter expression over
  * the documents corpus replicated `factor`× (default 100 → 500k rows at
  * sf0.1), materialized through the noop sink (full compute, no I/O).
  * Compare with the reference's single-threaded pandas loop over the
  * same texts, whose per-operator rows/s PERF.md records ("Throughput vs
  * the reference").
  */
object Throughput {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_REPL", "100").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // derived inputs, the constructions the reference side of PERF.md's
    // throughput table was measured over:
    //  - split: first half + splitter token + second half (f6/f8 operate
    //    on splitter-joined documents — filters.py:131-140,159-175)
    //  - conv: a 3-message conversation per document, 2 trained (the R5
    //    prepare_dataset input shape — minhash_deduplication.py:196-204)
    //  - html: the document wrapped in real markup with a script block
    //    (ours-only: the reference has no HTML extraction)
    val half = (length(col("text")) / 2).cast("int")
    def splitJoin(tok: String): Column = concat(
      col("text").substr(lit(1), half), lit(tok),
      col("text").substr(half + 1, length(col("text"))))
    def msg(trained: Boolean, role: String): Column = struct(
      col("text").as("content"), lit(trained).as("do_train"),
      lit(role).as("role"))
    val big = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text")
      .withColumn("__r__", explode(array_repeat(lit(1), factor)))
      .drop("__r__")
      .withColumn("text_trunc", splitJoin("<|truncation_splitter|>"))
      .withColumn("text_gender", splitJoin("<|gender_splitter|>"))
      .withColumn("conv", array(msg(trained = true, "User"),
        msg(trained = false, "Assistant"), msg(trained = true, "Assistant")))
      .withColumn("html", concat(lit("<html><body><h1>T</h1><p>"),
        col("text"),
        lit("</p><script>var x=1;</script><p>tail &amp; done</p></body></html>")))
      .repartition(cpus.toInt)
      .persist()
    val n = big.count()

    val ops: Seq[(String, String, Column => Column)] = Seq(
      ("c1_fix_utf8", "text", Cleaners.fixUtf8Encoding),
      ("c2_normalize_whitespace", "text", Cleaners.normalizeWhitespace),
      ("c3_normalize_punctuation", "text", Cleaners.normalizePunctuation),
      ("c4_remove_empty_lines", "text", Cleaners.removeEmptyLines),
      ("c5_clean_new_lines", "text", Cleaners.cleanNewLines),
      ("f1_check_word_number", "text",
        c => Filters.checkWordNumber().keep(c)),
      ("f3_check_nsfw_words", "text",
        c => Filters.checkNsfwWords().keep(c)),
      ("f4_check_lowercase_ratio", "text",
        c => Filters.checkLowercaseRatio().keep(c)),
      ("f5_check_char_repetition", "text",
        c => Filters.checkCharRepetition().keep(c)),
      ("f6_check_truncation", "text_trunc",
        c => Filters.checkTruncation().keep(c)),
      ("f7_check_completion", "text", c => Filters.checkCompletion().keep(c)),
      ("f8_check_gender", "text_gender",
        c => Filters.checkGender().keep(c)),
      ("f9_check_empty", "text", c => Filters.checkEmpty().keep(c)),
      ("f10_check_ethics", "text", c => Filters.checkEthics().keep(c)),
      ("f11_check_ethics_harsh", "text",
        c => Filters.checkEthicsHarsh().keep(c)),
      ("r5_dedup_prep", "conv", graft.chat.Conversations.dedupText),
      ("html_extract", "html", graft.text.Html.extractUdf))

    // warmup: one full pass over EVERY op (codegen + JIT + adaptive-heap
    // sizing — the high-allocation ops must see a grown heap before being
    // timed, or run order leaks into the numbers)
    ops.foreach { case (_, in, fn) =>
      big.select(fn(col(in)).as("o")).write
        .format("noop").mode("overwrite").save()
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    println(f"corpus: $n rows (documents × $factor), local[$cpus], " +
      s"best of $reps")
    println(f"${"operator"}%-34s ${"sec"}%9s ${"rows/s"}%12s")
    var total = 0.0
    ops.foreach { case (name, in, fn) =>
      val dt = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        big.select(fn(col(in)).as("o")).write
          .format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      total += dt
      println(f"$name%-34s $dt%9.2f ${n / dt}%12.0f")
    }
    // per-op minima come from DIFFERENT reps — this is the PERF.md ratio
    // denominator, not the wall-clock of any single end-to-end run
    println(f"${"TOTAL (sum of per-op best)"}%-34s $total%9.2f")
    spark.stop()
  }
}
