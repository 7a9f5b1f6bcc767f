package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Word-level byte-pair-encoding tokenizer, trained in-engine.
  *
  * Token counting for budget/packing already exists (`ta_token_count`);
  * this is the TRAINER — the stage that produces the subword vocabulary
  * itself (Sennrich et al. 2016), which a training-data pipeline runs
  * over its corpus before any token-budget accounting is meaningful.
  *
  * Scale shape mirrors real BPE trainers (HF tokenizers, sentencepiece):
  * the corpus-sized work is ONE map-side-combined word-count aggregation
  * — only distinct words shuffle — followed by a TakeOrdered top-K cap,
  * and the merge loop then runs on the driver over that bounded
  * word-frequency dictionary: O(maxWords × merges), corpus-size
  * independent, fully deterministic (pair ties break lexicographically,
  * word order is canonicalized before counting). Encoding rides in a
  * closure like the NB/ARPA scorers — zero shuffle, O(word length²)
  * worst case per word with a per-executor word cache.
  *
  * Symbol model: characters, plus `</w>` as a SEPARATE trailing symbol
  * (the original Sennrich formulation) — so merges can absorb the
  * end-of-word marker (e.g. `est` + `</w>` → `est</w>`) and encoded
  * tokens concatenate back to `word + "</w>"` (a spec invariant).
  */
object Bpe {

  val EndOfWord = "</w>"

  final case class BpeModel(merges: Vector[(String, String)])
      extends Serializable {
    @transient private lazy val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.toMap
    // per-executor memo: corpora repeat words heavily (Zipf), so encode
    // each distinct word once per executor, not once per occurrence
    @transient private lazy val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Vector[String]]()

    def encodeWord(w: String): Vector[String] = {
      if (w.isEmpty) return Vector.empty
      val hit = cache.get(w)
      if (hit != null) return hit
      var syms = w.map(_.toString).toVector :+ EndOfWord
      var done = false
      while (!done && syms.length > 1) {
        // lowest-rank applicable merge this round
        var bestRank = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
          if (r < bestRank) bestRank = r
          i += 1
        }
        if (bestRank == Int.MaxValue) done = true
        else {
          val (a, b) = merges(bestRank)
          val nb = Vector.newBuilder[String]
          i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
              nb += a + b; i += 2 // all non-overlapping occurrences, L→R
            } else { nb += syms(i); i += 1 }
          }
          syms = nb.result()
        }
      }
      cache.putIfAbsent(w, syms)
      syms
    }

    def encodeTokens(words: Seq[String]): Vector[String] =
      words.iterator.flatMap(encodeWord).toVector
  }

  /** Classic word-level BPE over a word-frequency dictionary: per round,
    * merge the highest-weighted adjacent symbol pair everywhere (ties:
    * lexicographically smallest pair), stop at `numMerges` or when no
    * pair repeats. Pure JVM, deterministic.
    *
    * INCREMENTAL (VERDICT r8 #4): the r8 loop rescanned every word every
    * round — O(maxWords × merges) symbol touches, ~10^10 at a real 32k
    * vocab over a 1M-word dictionary. This is the HF-tokenizers shape:
    * a pair→count index plus a pair→containing-words inverted index are
    * built once; each merge pops the max from a lazy-deletion heap
    * (entries are (count, pair) snapshots — a popped entry is valid only
    * if it matches the pair's CURRENT count; every count change pushes a
    * fresh snapshot, so the current state of every candidate pair is
    * always present) and rewrites ONLY the words that contain the merged
    * pair, adjusting pair counts along the changed boundaries. Selection
    * order is bit-identical to the rescan loop: max weighted count, ties
    * to the lexicographically smallest pair (BpeSpec's goldens and its
    * rescan-equivalence test pin it).
    */
  def trainFromCounts(wc: Seq[(String, Long)], numMerges: Int): BpeModel = {
    import scala.collection.mutable
    val words: Array[Array[String]] = wc.sortBy(_._1).map {
      case (w, _) => (w.map(_.toString) :+ EndOfWord).toArray
    }.toArray
    val counts: Array[Long] = wc.sortBy(_._1).map(_._2).toArray

    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    // max-heap: highest count first; among equal counts the
    // lexicographically SMALLEST pair must win, so the pair component
    // compares reversed
    implicit val ord: Ordering[(Long, String, String)] =
      (x: (Long, String, String), y: (Long, String, String)) => {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else {
          val a = y._2.compareTo(x._2)
          if (a != 0) a else y._3.compareTo(x._3)
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)]

    def bump(p: (String, String), delta: Long, wordIdx: Int): Unit = {
      val nc = pairCount.getOrElse(p, 0L) + delta
      if (nc <= 0L) pairCount.remove(p) else pairCount.update(p, nc)
      if (delta > 0) {
        pairWords.getOrElseUpdate(p, mutable.Set.empty) += wordIdx
        heap.enqueue((nc, p._1, p._2))
      } else if (nc > 0L) heap.enqueue((nc, p._1, p._2))
      // word membership decays lazily: a stale index in pairWords just
      // makes one no-op rewrite attempt when (if ever) that pair wins
    }

    var wi = 0
    while (wi < words.length) {
      val syms = words(wi); val c = counts(wi)
      var i = 0
      while (i < syms.length - 1) {
        bump((syms(i), syms(i + 1)), c, wi); i += 1
      }
      wi += 1
    }

    val merges = Vector.newBuilder[(String, String)]
    var n = 0
    var exhausted = false
    while (n < numMerges && !exhausted) {
      // pop until a LIVE entry: snapshot count == current count. Stale
      // entries (superseded by later bumps) are discarded; the freshest
      // snapshot of every pair is always in the heap, so the first live
      // entry IS the (max count, lexicographically smallest) pair.
      var best: (String, String) = null
      var bestCnt = 0L
      while (best == null && heap.nonEmpty) {
        val (c, a, b) = heap.dequeue()
        if (pairCount.getOrElse((a, b), 0L) == c) { best = (a, b); bestCnt = c }
      }
      if (best == null || bestCnt < 2L) exhausted = true // singleton pairs compress nothing
      else {
        merges += best
        val (a, b) = best
        val merged = a + b
        val affected = pairWords.getOrElse(best, mutable.Set.empty)
        affected.toArray.sorted.foreach { idx =>
          val syms = words(idx); val c = counts(idx)
          // does the pair still occur here? (membership is lazy)
          var has = false
          var i = 0
          while (!has && i < syms.length - 1) {
            has = syms(i) == a && syms(i + 1) == b; i += 1
          }
          if (has) {
            // retract every boundary of the old symbol sequence, rewrite
            // (all non-overlapping occurrences, L→R), re-add the new ones
            // — net effect: only the changed boundaries move, and the
            // rewritten word registers itself on its new pairs
            i = 0
            while (i < syms.length - 1) {
              bump((syms(i), syms(i + 1)), -c, idx); i += 1
            }
            val nb = Array.newBuilder[String]
            i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                nb += merged; i += 2
              } else { nb += syms(i); i += 1 }
            }
            val ns = nb.result()
            words(idx) = ns
            i = 0
            while (i < ns.length - 1) {
              bump((ns(i), ns(i + 1)), c, idx); i += 1
            }
          }
        }
        pairWords.remove(best)
        pairCount.remove(best) // all occurrences merged away
        n += 1
      }
    }
    BpeModel(merges.result())
  }

  /** The r8 full-rescan loop, kept as the oracle for BpeSpec's
    * equivalence test (identical merge sequences). O(words × merges) —
    * never call it on a real dictionary.
    */
  private[graft] def trainFromCountsRescan(wc: Seq[(String, Long)],
      numMerges: Int): BpeModel = {
    var words: Vector[(Vector[String], Long)] = wc.sortBy(_._1).map {
      case (w, c) => (w.map(_.toString).toVector :+ EndOfWord, c)
    }.toVector
    val merges = Vector.newBuilder[(String, String)]
    var n = 0
    var exhausted = false
    while (n < numMerges && !exhausted) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pc.update(p, pc.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (pc.isEmpty) exhausted = true
      else {
        val (best, cnt) = pc.minBy { case ((a, b), c) => (-c, a, b) }
        if (cnt < 2) exhausted = true // a pair seen once compresses nothing
        else {
          merges += best
          words = words.map { case (syms, c) =>
            val nb = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 &&
                  syms(i + 1) == best._2) {
                nb += best._1 + best._2; i += 2
              } else { nb += syms(i); i += 1 }
            }
            (nb.result(), c)
          }
          n += 1
        }
      }
    }
    BpeModel(merges.result())
  }

  /** One distributed word-count pass (the corpus never shuffles — only
    * distinct words do), TakeOrdered top-`maxWords` dictionary
    * (count desc, word asc — deterministic), then the driver merge loop.
    * Real trainers cap or sample the dictionary the same way; rare-word
    * tails don't change early merges.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      maxWords: Int): BpeModel = {
    val wc = df.select(explode(
        graft.scoring.NaiveBayes.tokensCol(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(maxWords)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    trainFromCounts(wc, numMerges)
  }

  /** Adds `bpe_text` (space-joined encoded tokens) and `n_bpe_tokens`.
    * Zero-shuffle closure-model scoring, like NB predict.
    */
  def encode(df: DataFrame, model: BpeModel, textCol: String): DataFrame = {
    val m = model
    val enc = udf { (words: Seq[String]) =>
      val toks = m.encodeTokens(if (words == null) Nil else words)
      (toks.mkString(" "), toks.length.toLong)
    }
    df.withColumn("_bpe",
        enc(graft.scoring.NaiveBayes.tokensCol(col(textCol))))
      .withColumn("bpe_text", col("_bpe._1"))
      .withColumn("n_bpe_tokens", col("_bpe._2"))
      .drop("_bpe")
  }

  /** (word, bpe, n_toks) for every distinct word of `df` — the
    * side-channel the `bpe_encode_tokens` oracle consumes: per-word
    * encoding is the one step DuckDB does not re-derive (the merge-apply
    * loop; pinned by BpeSpec hand goldens), while document assembly —
    * tokenize, per-word lookup, ordered join, token totals — is replayed
    * in SQL from this frame.
    */
  def wordEncodings(spark: SparkSession, df: DataFrame, model: BpeModel,
      textCol: String): DataFrame = {
    val m = model
    val enc = udf { (w: String) =>
      val toks = m.encodeWord(if (w == null) "" else w)
      (toks.mkString(" "), toks.length.toLong)
    }
    df.select(explode(graft.scoring.NaiveBayes.tokensCol(col(textCol)))
        .as("word"))
      .distinct()
      .withColumn("_e", enc(col("word")))
      .select(col("word"), col("_e._1").as("bpe"), col("_e._2").as("n_toks"))
  }
}
