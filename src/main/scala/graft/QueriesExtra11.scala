package graft

import org.apache.spark.sql.functions._

import graft.scoring.{ExternalLm, ExternalLmScorer, TrainSp}

/** Round 16: the external-LM ingestion query (VERDICT r15 #1 — the last
  * reference divergence). The reference scores perplexity with a
  * DOWNLOADED KenLM model + SentencePiece tokenizer
  * (chat_data_pipeline/kenlm_model.py:18-29,122-142); until r16 the
  * engine could only score with its compiled-in resource, so reference
  * threshold configs weren't numerically transferable. This query drives
  * the new runtime-ingestion path end-to-end: the shipped piece table +
  * piece-level ARPA are first dumped to PLAIN FILES and loaded back
  * through `ExternalLm.fromFiles` — exactly what a user pointing the
  * engine at their own exported KenLM/SentencePiece pair does — then
  * every document is scored over the segmented token stream.
  *
  * The oracle replays EVERYTHING from exported data: cc_net
  * normalization, the `▁`-marked greedy longest-match segmentation (a
  * recursive CTE advancing one piece per step, longest-match via one
  * hash join per piece length), `<unk>` vocab mapping, the
  * 4→3→2→1-gram backoff chain, ordered log-sum, and the reference's
  * `round(10^(−Σ/Σlen), 1)` — sharing nothing with the JVM scorer but
  * the parsed model constants (the f2_check_perplexity trust chain, now
  * with the tokenizer inside the replay too).
  */
object QueriesExtra11 {

  private val ArpaRes = "graft/graft-en-sp.arpa"
  private val PiecesRes = "graft/graft-en.pieces"

  @volatile private var extLmScorer: ExternalLmScorer = null
  @volatile private var extLmBinScorer: ExternalLmScorer = null

  private def resourceToFile(res: String, dest: String): Unit = {
    val in = getClass.getClassLoader.getResourceAsStream(res)
    require(in != null, s"missing resource $res")
    try java.nio.file.Files.copy(in, java.nio.file.Paths.get(dest),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
  }

  /** Dump the resources as the "external" model pair into the side
    * channel `extlm`, ingest them via [[ExternalLm.fromFiles]], and export
    * model + pieces AS DATA to `extlm_tables` for the oracle. Once per
    * run, through [[SideChannel.writeOnce]] on the tables the oracle reads
    * (all three queries call this); the scorers are memoized so executor
    * tasks (same JVM at local[32]; on a cluster ship the files with
    * `SparkFiles.addFile` first) reuse one parsed model.
    */
  private def ensureExternalLm(s: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    SideChannel.writeOnce(dir, "extlm_tables") { tables =>
      val lm = SideChannel.path("extlm")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(lm))
      resourceToFile(ArpaRes, s"$lm/model.arpa")
      resourceToFile(PiecesRes, s"$lm/pieces.vocab")
      val scorer = ExternalLm.fromFiles(s"$lm/model.arpa",
        Some(s"$lm/pieces.vocab"))
      // r17: compile the text ARPA to graft's binary `.glm` and build a
      // SECOND scorer whose LM half loads through the PackedLm path — the
      // f2_external_lm_bin oracle proves the compiled representation
      // answers the full document chain hash-identically.
      graft.scoring.PackedLm.compileFile(s"$lm/model.arpa", s"$lm/model.glm")
      extLmBinScorer = ExternalLm.fromFiles(s"$lm/model.glm",
        Some(s"$lm/pieces.vocab"))
      OracleSql.dumpArpa(s, scorer.model, tables)
      import s.implicits._
      scorer.pieces.get.rows.toDF("piece", "len", "score")
        .write.mode("overwrite").parquet(s"$tables/pieces")
      extLmScorer = scorer
    }

  /** The scorer UDF over `lmFile` (`model.arpa`, or the compiled
    * `model.glm`), after [[ensureExternalLm]]. Fast path: the driver
    * populated the memo `fast` reads and local-mode executors share the
    * JVM; a separate-JVM executor (non-local master) re-resolves the
    * files at the driver's side-channel path through the path-keyed
    * per-JVM cache instead of NPE-ing on the driver-only var — it still
    * needs the files present (SparkFiles.addFile them). `fast` must be a
    * closure over the @volatile field, not its value, so executors
    * observe the post-construction write.
    */
  private def scoreUdf(s: org.apache.spark.sql.SparkSession, dir: String,
      fast: () => ExternalLmScorer, lmFile: String) = {
    ensureExternalLm(s, dir)
    val lm = SideChannel.path("extlm")
    udf { (t: String) =>
      val scorer = Option(fast()).getOrElse(
        ExternalLm.cached(s"$lm/$lmFile", Some(s"$lm/pieces.vocab")))
      scorer.score(if (t == null) "" else t)
    }
  }

  val f2External: QueryDef = QueryDef("f2_external_lm",
    (s, dir) => Queries.table(s, dir, "documents")
      .select(col("doc_id"),
        scoreUdf(s, dir, () => extLmScorer, "model.arpa")(
          col("text")).as("ext_lm_ppl"))
      .orderBy("doc_id"),
    Some(replaySql("text")))

  /** Multi-line whole-doc oracle (ADVICE r16 medium — the divergence it
    * flagged was exactly that no oracle covered documents with `\n`):
    * both engines compose the SAME multi-line, double-spaced document
    * from each `documents` row, so the replay proves the reference
    * chain end-to-end — `\n` removed outright (lines CONCATENATE, no
    * space — kenlm_model.py:71-73's non-printing class spans \x0a),
    * space runs collapsed (SP's remove_extra_whitespaces), ONE
    * `<s>..</s>` event chain with a single +1 per document.
    */
  val f2ExternalMultiline: QueryDef = QueryDef("f2_external_lm_multiline",
    (s, dir) => Queries.table(s, dir, "documents")
      .select(col("doc_id"),
        scoreUdf(s, dir, () => extLmScorer, "model.arpa")(concat(
          col("text"), lit("\n"), col("text"), lit("\nx  y z")))
          .as("ext_lm_ppl"))
      .orderBy("doc_id"),
    Some(replaySql("text || chr(10) || text || chr(10) || 'x  y z'")))

  /** r17: the same documents scored through the COMPILED `.glm` LM
    * (the `build_binary` analogue — PackedLm.scala's header): the text
    * ARPA is compiled to graft's binary format, loaded back through the
    * sniffing `ExternalLm.fromFiles` path (exactly what `lm_path:
    * model.glm` in a YAML config does), and every document must land on
    * the identical 1-dp perplexity — the oracle is the SAME independent
    * DuckDB replay as f2_external_lm, so a hash match certifies the
    * packed id-chained lookup chain end-to-end on real data, not just
    * in-JVM parity (PackedLmSpec covers that bit-exactly).
    */
  val f2ExternalBin: QueryDef = QueryDef("f2_external_lm_bin",
    (s, dir) => Queries.table(s, dir, "documents")
      .select(col("doc_id"),
        scoreUdf(s, dir, () => extLmBinScorer, "model.glm")(
          col("text")).as("ext_lm_ppl"))
      .orderBy("doc_id"),
    Some(replaySql("text")))

  /** The full DuckDB replay over an arbitrary raw-document SQL
    * expression (shared by the single-line and multi-line oracles).
    */
  private def replaySql(docExpr: String): String = {
      import OracleSql._
      // the same ccnet chain the f2/ccnet oracles hash-match, THEN the
      // pieces-path whole-doc pretreatment (ADVICE r16 medium — the
      // reference's normalize removes \n outright, kenlm_model.py:71-73,
      // so lines concatenate with NO space and the whole doc scores as
      // ONE <s>..</s> chain; SP's default remove_extra_whitespaces then
      // trims + collapses space runs)
      val norm =
        s"trim(regexp_replace(replace(${ccnet(docExpr)}, chr(10), ''), " +
          "'  +', ' ', 'g'))"
      // greedy longest-match: one LEFT JOIN per candidate length
      // (maxPieceLen..2); a clamped substr near end-of-string is shorter
      // than k and can never equal a len-k piece, so no bounds CASE is
      // needed. Unmatched position → single codepoint (the JVM fallback).
      val maxLen = TrainSp.MaxPieceLen
      val lenJoins = (maxLen to 2 by -1).map { k =>
        s"LEFT JOIN pc p$k ON p$k.len = $k AND " +
          s"p$k.piece = substr(seg.s, seg.pos, $k) "
      }.mkString
      val lenCase = "CASE " + (maxLen to 2 by -1).map { k =>
        s"WHEN p$k.piece IS NOT NULL THEN $k "
      }.mkString + "ELSE 1 END"
      "WITH RECURSIVE " +
        arpaCtes(SideChannel.sqlPath("extlm_tables")) +
        s"pc AS (SELECT piece, len FROM parquet_scan('" +
        SideChannel.sqlPath("extlm_tables") +
        "/pieces/*.parquet') WHERE len >= 2), " +
        s"d AS (SELECT doc_id, $norm AS norm FROM documents), " +
        "d2 AS (SELECT doc_id, CASE WHEN norm = '' THEN '' ELSE " +
        "'▁' || replace(norm, ' ', '▁') END AS s FROM d), " +
        // one piece per recursion step: (pos, i) advance together; the
        // seed row (i = 0) carries no piece and is filtered from tok
        "seg AS (" +
        "SELECT doc_id, s, CAST(1 AS BIGINT) AS pos, " +
        "CAST(0 AS BIGINT) AS i, CAST(NULL AS VARCHAR) AS w FROM d2 " +
        "UNION ALL " +
        "SELECT g.doc_id, g.s, g.pos + g.l, g.i + 1, " +
        "substr(g.s, CAST(g.pos AS INT), CAST(g.l AS INT)) FROM (" +
        s"SELECT seg.doc_id, seg.s, seg.pos, seg.i, $lenCase AS l " +
        s"FROM seg $lenJoins" +
        "WHERE seg.pos <= length(seg.s)) g), " +
        "tok AS (SELECT doc_id, i, w FROM seg WHERE i >= 1), " +
        backoffReplay("ext_lm_ppl")
  }

  val all: Seq[QueryDef] = Seq(f2External, f2ExternalMultiline,
    f2ExternalBin)
}
