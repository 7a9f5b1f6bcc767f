package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-document exact-substring detection (the detection stage of Lee
  * et al. 2022, "Deduplicating Training Data Makes Language Models
  * Better": find spans of ≥ L characters that occur verbatim in more than
  * one document). Spark-shaped: every length-L character window becomes a
  * shuffle key; windows whose content occurs in >1 document are merged
  * into maximal per-document spans with a gaps-and-islands window. The
  * reference algorithm builds a corpus suffix array — the right structure
  * on one machine, but not a shuffle shape; the group-join form trades
  * the L× window blowup for full distribution.
  *
  * Windows are keyed by a 128-bit Rabin–Karp rolling fingerprint (two
  * independent polynomial hashes mod 2^61−1): O(chars) per document
  * instead of O(chars·L) substring materialization, and 16-byte shuffle
  * keys regardless of L (measured 3× on the bench corpus vs raw-substring
  * keys). Distinct windows colliding on all 128 bits would merge spans
  * erroneously; at ~10^12 windows (100 TB) the probability is < 10^-12 —
  * accepted and documented (the DuckDB oracle groups by the raw
  * substring, so a collision would surface as a hash mismatch).
  * Trimming is a caller-side substring removal over the returned spans.
  */
object ExactSubstring {

  private val P = MinHash.MersennePrime // 2^61 - 1
  private val B1 = 1000003L
  private val B2 = 1000033L

  /** (a*b) mod (2^61-1) for 0 ≤ a,b < 2^61 via 128-bit split:
    * 2^64 ≡ 8 (mod P), so hi·2^64 + lo ≡ hi·8 + lo.
    */
  @inline private def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    MinHash.modMersenne(MinHash.modMersenne(lo) + hi * 8)
  }

  /** 128-bit rolling fingerprints of every length-L window (UTF-16-unit
    * windows, matching `substr` semantics on BMP text), as (h1, h2) long
    * pairs. Procedural UDF on purpose: the rolling recurrence is
    * inherently sequential per row. r19 (guide §2.2 narrower types): the
    * pairs flatten to TWO top-level LONG columns before the h-shuffle —
    * fixed-width rows (no var-length binary offsets) and the window sort
    * radix-prefixes on h1's full 61 bits of entropy instead of a byte-at
    * -a-time binary comparator; the 16-byte-array-per-window allocation
    * in the UDF loop goes away with it. Same hash VALUES, so grouping by
    * (h1, h2) partitions windows identically to the old 16-byte key.
    */
  private[graft] def fingerprints(s: String, L: Int): Array[(Long, Long)] = {
    if (s == null || s.length < L) return Array.empty
    val n = s.length - L + 1
    var pw1 = 1L; var pw2 = 1L
    var j = 0
    while (j < L - 1) { pw1 = mulmod(pw1, B1); pw2 = mulmod(pw2, B2); j += 1 }
    var h1 = 0L; var h2 = 0L
    j = 0
    while (j < L) {
      val c = s.charAt(j).toLong
      h1 = MinHash.modMersenne(mulmod(h1, B1) + c)
      h2 = MinHash.modMersenne(mulmod(h2, B2) + c)
      j += 1
    }
    val out = new Array[(Long, Long)](n)
    var i = 0
    while (true) {
      out(i) = (h1, h2)
      i += 1
      if (i >= n) return out
      val cOut = s.charAt(i - 1).toLong
      val cIn = s.charAt(i + L - 1).toLong
      h1 = MinHash.modMersenne(
        mulmod(MinHash.modMersenne(h1 + P - mulmod(cOut, pw1)), B1) + cIn)
      h2 = MinHash.modMersenne(
        mulmod(MinHash.modMersenne(h2 + P - mulmod(cOut, pw2)), B2) + cIn)
    }
    out
  }

  private val fpUdf = udf { (s: String, l: Int) => fingerprints(s, l) }

  /** Length-L window fingerprints per (row, position). */
  private def windowKeys(text: Column, L: Int): Column =
    fpUdf(text, lit(L))

  /** Maximal per-document spans [span_start, span_end) (0-based,
    * exclusive end) covered by length-`L` windows whose content occurs in
    * MORE THAN ONE document. Rows shorter than L produce no spans.
    */
  /** The explode stage: one (id, pos, h1, h2) row per length-`L`
    * window of every row at least `L` long.
    */
  private def gramsFor(df: DataFrame, idCol: String,
      textCol: String, L: Int): DataFrame =
    df.where(length(col(textCol)) >= L).select(col(idCol),
        posexplode(windowKeys(col(textCol), L)).as(Seq("pos", "h")))
      .select(col(idCol), col("pos"),
        col("h._1").as("h1"), col("h._2").as("h2"))

  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      L: Int): DataFrame = {
    val grams = gramsFor(df, idCol, textCol, L)
    // windows seen in >1 document: min(doc) != max(doc) over the
    // fingerprint partition — same predicate as count(distinct doc) > 1
    // without the distinct expansion. A WINDOW (not groupBy + join back)
    // keeps every (id, pos) row in the same pass, so the explode UDF and
    // its 16-byte-array materialization run ONCE instead of once per side
    // of the join; total movement is one shuffle on h either way.
    val wh = Window.partitionBy("h1", "h2")
    val marked = grams
      .withColumn("__mn__", min(col(idCol)).over(wh))
      .withColumn("__mx__", max(col(idCol)).over(wh))
      .where(col("__mn__") =!= col("__mx__"))
      .drop("__mn__", "__mx__")
    // merge consecutive positions: pos - row_number is constant per run
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("__grp__", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp__"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + L).as("span_end"))
      .drop("__grp__")
  }

  /** Benchmark decontamination: maximal spans of `corpus` documents that
    * quote ≥ L consecutive characters of ANY `benchmark` document
    * verbatim (the eval-set contamination check every pretraining
    * pipeline needs). Same fingerprint shuffle as [[repeatedSpans]], but
    * a window counts as contaminated only when its content occurs on
    * BOTH sides — corpus-internal repetition alone does not flag.
    * Returns (corpus idCol, span_start, span_end); feed to
    * [[trimRepeatedSpans]]-style cutting or drop the documents.
    */
  def contaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, L: Int): DataFrame = {
    val cGrams = gramsFor(corpus, idCol, textCol, L)
      .withColumn("__side__", lit(0))
    val bGrams = gramsFor(benchmark, idCol, textCol, L)
      .withColumn("__side__", lit(1))
    val grams = cGrams.unionByName(bGrams)
    // same single-pass window shape as repeatedSpans: a window is
    // contaminated iff both sides appear in its fingerprint partition;
    // corpus rows survive the filter directly — no second explode of
    // cGrams for a join-back side
    val wh = Window.partitionBy("h1", "h2")
    val marked = grams
      .withColumn("__mn__", min(col("__side__")).over(wh))
      .withColumn("__mx__", max(col("__side__")).over(wh))
      .where(col("__mn__") =!= col("__mx__") && col("__side__") === 0)
      .drop("__mn__", "__mx__", "__side__")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("__grp__", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp__"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + L).as("span_end"))
      .drop("__grp__")
  }

  /** Remove every repeated span from the documents (the trim step):
    * rebuilds each text with its flagged ranges cut out. Span ranges are
    * merged per row before cutting, so overlaps are safe.
    */
  def trimRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      L: Int): DataFrame = {
    val spans = repeatedSpans(df, idCol, textCol, L)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("span_start"), col("span_end")))).as("__spans__"))
    df.join(spans, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__spans__").isNull, col(textCol)).otherwise(
          // keep [prev_end, start) slices plus the tail after the last span
          concat(
            aggregate(col("__spans__"),
              struct(lit(0).as("cursor"), lit("").as("acc")),
              (st, sp) => struct(
                greatest(st.getField("cursor"),
                  sp.getField("span_end")).as("cursor"),
                concat(st.getField("acc"),
                  when(sp.getField("span_start") > st.getField("cursor"),
                    col(textCol).substr(st.getField("cursor") + 1,
                      sp.getField("span_start") - st.getField("cursor")))
                    .otherwise(lit(""))).as("acc")).cast(
                "struct<cursor:int,acc:string>"))
              .getField("acc"),
            col(textCol).substr(
              aggregate(col("__spans__"), lit(0),
                (c, sp) => greatest(c, sp.getField("span_end"))) + 1,
              length(col(textCol))))))
      .drop("__spans__")
  }
}
