package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.text.TextFilter

/** The reference's `DataPreprocessor` (preprocessor.py:32-79) re-expressed
  * as ONE lazy plan: fold cleaners as projections, fuse all filter
  * predicates (Catalyst collapses consecutive Filters into one pass), then
  * optional MinHash near-dedup. The reference materializes the dataset per
  * filter solely to log reduction percentages — here accounting is an
  * optional SINGLE extra aggregation job over all criteria at once
  * (`filterStats`), not N materializations.
  */
final class Preprocessor(
    df: DataFrame,
    private[graft] val columnName: String,
    cleaners: Seq[(String, Column => Column)],
    filters: Seq[TextFilter],
    private[graft] val dedup: Option[graft.dedup.MinHashConfig] = None,
    verbose: Boolean = false,
    private[graft] val dedupOrderCol: Option[String] = None,
    dedupAuditStats: Boolean = false,
    dedupJournalPath: Option[String] = None) {

  def run(): DataFrame = {
    // ADVICE r16: validate journal preconditions BEFORE any Spark work —
    // the dedup kernels localCheckpoint internally, so a config typo
    // caught only at the journal write would cost an entire eager
    // clean/filter/dedup pass before failing
    dedupJournalPath.foreach { _ =>
      if (dedup.isEmpty) sys.error(
        "deduplication.journal_path requires do_deduplication: true — " +
          "the journal is the dedup pass's retention artifact")
      require(dedupOrderCol.isDefined,
        "deduplication.journal_path requires a data-derived dedup " +
          "order column (journal ids must be recompute-stable)")
    }
    if (verbose) {
      Preprocessor.filterStats(Preprocessor.clean(df, columnName, cleaners),
          columnName, filters).foreach {
        case (name, total, kept) =>
          val reduced =
            if (total == 0) 0.0 else (total - kept).toDouble / total * 100
          // mirrors preprocessor.py:81-89 accounting
          println(f"[graft] filter $name%-28s kept $kept/$total " +
            f"(reduced $reduced%.2f%%)")
      }
    }
    val filtered = dedupInput
    val deduped = dedup match {
      case Some(cfg) if dedupAuditStats =>
        // audited dedup (VERDICT r8 #5): kept rows AND the cluster-size
        // histogram from ONE clustering pass — the histogram is tiny
        // (one row per distinct cluster size), so logging it eagerly
        // costs one small agg over the already-checkpointed roots
        val (kept, stats) = graft.dedup.MinHashDedup.deduplicateWithStats(
          filtered, columnName, cfg, orderCol = dedupOrderCol)
        stats.orderBy(col("cluster_size")).collect().foreach { r =>
          println(s"[graft] dedup($columnName) cluster_size=${r.getLong(0)} " +
            s"n_clusters=${r.getLong(1)}")
        }
        kept
      case Some(cfg) =>
        graft.dedup.MinHashDedup.deduplicate(filtered, columnName, cfg,
          orderCol = dedupOrderCol)
      case None => filtered
    }
    dedupJournalPath match {
      case Some(p) =>
        // config-reachable retention (VERDICT r15 #4): publish the FULL
        // banded journal of the retained corpus next to the kept rows —
        // the |kept|×bands artifact `Retention.run` later deletes from
        // and compacts. Requires a DATA-DERIVED order column: journal
        // ids must re-derive to the keep-first ids on any later read
        // (monotonically_increasing_id is not recompute-stable). Both
        // preconditions were validated at the top of run().
        val cfg = dedup.get
        // checkpoint the kept rows once: the journal write and the
        // caller's downstream both read materialized blocks instead of
        // re-running the clean/filter/dedup trunk twice (the S4
        // persist-at-dedup-boundary design)
        val kept = deduped.localCheckpoint(true)
        graft.dedup.MinHashDedup
          .bandedJournal(kept, columnName, cfg, dedupOrderCol)
          .write.mode("overwrite").parquet(p)
        kept
      case None => deduped
    }
  }

  /** `df` cleaned and filtered: the frame the dedup pass clusters. */
  private[graft] def dedupInput: DataFrame =
    Preprocessor.applyFilters(Preprocessor.clean(df, columnName, cleaners),
      columnName, filters)
}

object Preprocessor {

  /** P2 `apply_cleaner` — pipeline.py:45-49: fold `withColumn` projections. */
  def clean(df: DataFrame, column: String,
      cleaners: Seq[(String, Column => Column)]): DataFrame =
    cleaners.foldLeft(df) { case (acc, (_, fn)) =>
      acc.withColumn(column, fn(col(column)))
    }

  /** P3 `apply_filter` — pipeline.py:52-67: criteria column → keep truthy →
    * drop. All predicates fuse into one scan.
    */
  def applyFilters(df: DataFrame, column: String,
      filters: Seq[TextFilter]): DataFrame =
    filters.foldLeft(df) { (acc, f) =>
      val crit = f.criteriaName(column)
      acc.withColumn(crit, f.keep(col(column)))
        .where(col(crit))
        .drop(crit)
    }

  /** P5 verbose accounting — one aggregation pass computing every filter's
    * pass count (vs the reference's per-filter full materialization,
    * preprocessor.py:44-58). Counts are SEQUENTIAL (each filter sees only
    * rows that passed the previous ones), matching the reference's logs.
    */
  def filterStats(df: DataFrame, column: String,
      filters: Seq[TextFilter]): Seq[(String, Long, Long)] = {
    if (filters.isEmpty) return Seq.empty
    // running conjunction: filter_i counted over rows passing filters < i
    val running = filters.scanLeft(lit(true)) { (acc, f) =>
      acc && f.keep(col(column))
    }.tail
    val aggs = running.map(c => sum(c.cast(LongType)))
    val row = df.agg(count(lit(1)), aggs: _*).head()
    val total = row.getLong(0)
    filters.indices.map { i =>
      val before = if (i == 0) total else row.getLong(i) // passed prior i
      val after = row.getLong(i + 1)
      (filters(i).name, before, after)
    }
  }

  /** P3 dry-run mode — pipeline.py:52-67 with dry_run=True +
    * `rename_dry_run_columns` (utils.py:160-169): compute every filter's
    * SCORE column (named `{column}_{filter}_criteria`), keep all rows,
    * prefix the new columns with `{column}__`.
    */
  def dryRun(df: DataFrame, column: String,
      filters: Seq[TextFilter]): DataFrame = {
    val scored = filters.foldLeft(df) { (acc, f) =>
      acc.withColumn(f.criteriaName(column), f.score(col(column)))
    }
    val newCols = filters.map(_.criteriaName(column)).toSet
    newCols.foldLeft(scored) { (acc, c) =>
      acc.withColumnRenamed(c, s"${column}__$c")
    }
  }

  /** P7 `split_dataset_by_filter` — utils.py:239-250: one criteria
    * computation, two filtered views (no id-subtraction round-trip).
    */
  def splitByFilter(df: DataFrame, column: String,
      f: TextFilter): (DataFrame, DataFrame) = {
    val crit = f.keep(col(column))
    (df.where(crit), df.where(!crit))
  }

  /** P8 `_dataset_subtraction` — utils.py:285-293: the reference's only
    * join, a left-anti on row id.
    */
  def subtract(minuend: DataFrame, subtrahend: DataFrame,
      idCol: String = "ids"): DataFrame =
    minuend.join(subtrahend.select(idCol), Seq(idCol), "left_anti")

  /** P6 `print_sample_dropped_examples` — utils.py:149-156 (seeded, unlike
    * the reference's bare `random.sample`).
    */
  def sampleDropped(original: DataFrame, kept: DataFrame, idCol: String,
      numSamples: Int = 5, seed: Long = 42): Array[org.apache.spark.sql.Row] =
    subtract(original, kept, idCol)
      .orderBy(rand(seed)).limit(numSamples).collect()

  /** R10 contiguous row ids 0..n-1 (preprocessor.py:46-48). Requires a full
    * pass; prefer `monotonically_increasing_id` (order-preserving, no extra
    * job) when only keep-first semantics are needed.
    */
  def withRowIds(df: DataFrame, idCol: String = "ids"): DataFrame = {
    val schema = df.schema.add(idCol, LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** P12 criteria `describe()` stats — pipeline.py:57 via `summary()`. */
  def criteriaSummary(df: DataFrame, column: String,
      f: TextFilter): DataFrame =
    df.select(f.score(col(column)).as(f.criteriaName(column))).summary()
}
