package graft.scoring

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Segmentation-divergence probe (VERDICT r16 #3 — the ftfy_divergence
  * precedent): MEASURE the greedy-vs-Viterbi-vs-BPE gap over the actual
  * scoring inputs instead of asserting it, and dump every segmentation
  * to a TSV that `tools/sp_divergence.py` compares against real
  * SentencePiece `encode_as_pieces` on an spm-equipped host (the
  * sandbox has no sentencepiece wheel and zero egress).
  *
  *   sbt "runMain graft.scoring.SpDivergence [sfDir] [outTsv] [pieces]"
  *
  * Corpus = every sf document plus the fuzz fragments, each put through
  * the EXACT pieces-path pretreatment the scorer applies (cc_net
  * normalize → drop \n → collapse space runs → trim), so the measured
  * rates describe the token streams the perplexity numbers are built
  * from. Prints one JSON line:
  * doc-level identical-stream rates, token-boundary Jaccard agreement,
  * and mean token-count deltas, for greedy-vs-viterbi and greedy-vs-bpe.
  */
object SpDivergence {

  /** Codepoint offsets of piece boundaries — the mode-agnostic way to
    * compare segmentations (pieces always concatenate back to the
    * marked line, so boundary SETS are comparable even when piece
    * inventories differ).
    */
  private def boundaries(pieces: Seq[String]): Set[Int] = {
    var off = 0
    val b = Set.newBuilder[Int]
    pieces.foreach { p =>
      off += p.codePointCount(0, p.length)
      b += off
    }
    b.result()
  }

  private def jaccard(a: Set[Int], b: Set[Int]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a & b).size.toDouble / (a | b).size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outTsv = args.drop(1).headOption
      .getOrElse("/tmp/graft_sp_divergence.tsv")
    val table = args.drop(2).headOption
      .map(SentencePieceTable.fromFileAuto)
      .getOrElse(SentencePieceTable.fromResource("graft/graft-en.pieces")
        .getOrElse(sys.error("missing shipped piece table")))

    val spark = graft.GraftSession.local()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0))
    spark.stop()
    val fuzz = graft.QueriesText.Fragments.map(_._1)

    // the scorer's exact pieces-path pretreatment (Perplexity.scala)
    val inputs = (docs ++ fuzz).map { raw =>
      CcNetNormalizer.normalize(if (raw == null) "" else raw)
        .replace("\n", "").replaceAll("  +", " ").trim
    }.filter(_.nonEmpty)

    var gvSame = 0L
    var gbSame = 0L
    var gvJac = 0.0
    var gbJac = 0.0
    var gToks = 0L
    var vToks = 0L
    var bToks = 0L
    val sb = new StringBuilder(1 << 22)
    sb ++= "line\tgreedy\tviterbi\tbpe\n"
    inputs.foreach { line =>
      val g = table.segmentLine(line)
      val v = table.segmentViterbi(line)
      val b = table.segmentBpe(line)
      if (g == v) gvSame += 1
      if (g == b) gbSame += 1
      val gb = boundaries(g)
      gvJac += jaccard(gb, boundaries(v))
      gbJac += jaccard(gb, boundaries(b))
      gToks += g.length; vToks += v.length; bToks += b.length
      sb ++= line; sb += '\t'
      sb ++= g.mkString(" "); sb += '\t'
      sb ++= v.mkString(" "); sb += '\t'
      sb ++= b.mkString(" "); sb += '\n'
    }
    Files.write(Paths.get(outTsv),
      sb.toString.getBytes(StandardCharsets.UTF_8))
    val n = inputs.length.toDouble
    println(f"""{"metric":"sp_divergence","n_docs":${inputs.length},""" +
      f""""greedy_vs_viterbi_identical":${gvSame / n}%.4f,""" +
      f""""greedy_vs_bpe_identical":${gbSame / n}%.4f,""" +
      f""""gv_boundary_jaccard":${gvJac / n}%.4f,""" +
      f""""gb_boundary_jaccard":${gbJac / n}%.4f,""" +
      f""""mean_tokens_greedy":${gToks / n}%.2f,""" +
      f""""mean_tokens_viterbi":${vToks / n}%.2f,""" +
      f""""mean_tokens_bpe":${bToks / n}%.2f,""" +
      s""""tsv":"$outTsv"}""")
  }
}
