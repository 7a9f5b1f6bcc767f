package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark dataflow for the dedup (SURVEY.md §2.6), de-skewed for 100 TB:
  *
  *  1. identical-text pre-pass — window `min(id)` per text value links
  *     exact copies to their first row and leaves ONE representative per
  *     distinct text, so signatures are computed once per distinct text
  *     (web corpora are ~30% exact dups; LSH clusters identical texts
  *     anyway — every band matches — so this is a pure cost cut);
  *  2. short docs (< `minNgramSize` tokens — empty shingle set, all-MAX_HASH
  *     signature, minhash_deduplication.py:50-51,109) short-circuit into one
  *     cluster via a single-row `min` aggregate instead of flooding 25 bands
  *     with one identical hot key (the r1/r2 mega-bucket);
  *  3. banding emits per-(band, signature) star edges via a streaming
  *     window `min(id)` — no `collect_list` array, so a hot bucket spills
  *     instead of materializing one giant reducer-side array;
  *  4. clustering: driver UnionFind (reference-faithful) below
  *     `maxDriverEdges`, distributed min-label propagation above — shared by
  *     every dedup family through [[Clustering]].
  */
object MinHashDedup {

  import Clustering.{IdCol, Pin}

  def signatureColumn(cfg: MinHashConfig): Column => Column = {
    val (b, r) = OptimalParam(cfg.threshold, cfg.numPerm)
    val u = udf { (s: String) =>
      MinHash.bandSignatures(s, cfg.numPerm, cfg.ngramSize,
        cfg.minNgramSize, b, r)
    }
    c => u(c)
  }

  /** Explicit partition count for the shuffles feeding expensive per-row
    * work (signature UDFs, window sorts): AQE sizes coalescing by shuffle
    * BYTES, so a small corpus collapses to 1-2 partitions and serializes
    * the CPU-heavy stage that reads it (measured: the sf0.1 signature
    * stage ran on ONE core). An explicit `repartition(n, keys)` is never
    * coalesced, and the window reuses its clustering — no extra exchange.
    */
  private[dedup] def parallelism(df: DataFrame): Int =
    math.max(df.sparkSession.sparkContext.defaultParallelism,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt)

  /** Star edges (member, bucket-min) per duplicate bucket from an
    * exploded (id, band, bsig) frame. Streaming window aggregate — one
    * shuffle on (band, bsig), no per-bucket array; hot buckets spill.
    * `skewProbe` pins the frame — a lazy local checkpoint the returned
    * edges own — and hands the pin to [[probedBucketMinEdges]].
    */
  private[graft] def bucketMinEdges(banded: DataFrame,
      skewProbe: Boolean): DataFrame =
    if (skewProbe) probedBucketMinEdges(banded.localCheckpoint(eager = false))
    else windowBucketMinEdges(banded)

  /** [[probeSkewDeep]] over an already pinned banded frame, then the
    * edges: [[bucketMinEdgesAgg]] at or above
    * [[MinHashConfig.SkewDepthThreshold]], the plain window below. The
    * probe and either edge form read the one pin, so the signatures
    * upstream of it are computed once.
    */
  private def probedBucketMinEdges(pinned: DataFrame): DataFrame =
    if (probeSkewDeep(pinned)) bucketMinEdgesAgg(pinned)
    else windowBucketMinEdges(pinned)

  private def windowBucketMinEdges(banded: DataFrame): DataFrame = {
    val w = Window.partitionBy("band", "bsig")
    banded.repartition(parallelism(banded), col("band"), col("bsig"))
      .withColumn("__min__", min(col("id")).over(w))
      .where(col("id") =!= col("__min__"))
      .select(col("id").as("__x__"), col("__min__").as("__y__"))
      .distinct()
  }

  /** AUTO skew decision (VERDICT r12 #1: "auto-enabled from a cheap
    * bucket-depth probe"): max (band, bsig) bucket depth via ONE
    * map-side-combined aggregation over the banded frame — the shuffle
    * carries ≤ one row per (bucket, mapper), so the probe never has a
    * hot reducer itself — true iff the deepest bucket clears the
    * measured [[MinHashConfig.SkewDepthThreshold]] crossover, routing
    * the caller to [[bucketMinEdgesAgg]]. The probe is an extra scan:
    * callers pass a pinned frame, or it re-runs the signature UDFs.
    */
  private[graft] def probeSkewDeep(banded: DataFrame): Boolean = {
    val maxDepth = banded
      .groupBy("band", "bsig").agg(count(lit(1)).as("__d__"))
      .agg(coalesce(max(col("__d__")), lit(0L)))
      .collect()(0).getLong(0)
    val deep = maxDepth >= MinHashConfig.SkewDepthThreshold
    if (deep) println(s"[graft] bucketMinEdges: auto skew probe found " +
      s"a $maxDepth-deep bucket " +
      s"(>= ${MinHashConfig.SkewDepthThreshold}) — agg-join bucket-min " +
      "engaged")
    deep
  }

  /** Aggregate-then-join bucket-min — the skew remedy that beats the
    * plain window at deep buckets (r13 sweep, PERF.md):
    * `groupBy(band, bsig).min(id)` crushes a hot bucket MAP-SIDE
    * (partial aggregation emits ≤ one row per bucket per mapper, so the
    * agg shuffle is skew-free by construction), and the join back to the
    * banded frame distributes edge emission — AQE broadcasts the min
    * frame when it is small and splits skewed join partitions otherwise
    * (OptimizeSkewedJoin), so no single task ever owns a hot bucket
    * end-to-end. The edge SET is IDENTICAL to the plain window's (the
    * same member → bucket-min stars) — SkewSoakSpec pins frame-level
    * equality. Cost: the banded frame is consumed twice (agg + join), so
    * callers pin it — [[probedBucketMinEdges]] already has (its probe is
    * the same aggregation shape, so by the time this runs the frame is
    * stored and the agg is the probe re-run plus the join).
    */
  private[graft] def bucketMinEdgesAgg(banded: DataFrame): DataFrame = {
    val mins = banded.groupBy("band", "bsig")
      .agg(min(col("id")).as("__min__"))
    banded.join(mins, Seq("band", "bsig"))
      .where(col("id") =!= col("__min__"))
      .select(col("id").as("__x__"), col("__min__").as("__y__"))
      .distinct()
  }

  /** Cluster-size histogram of the near-dup clustering over `column`:
    * (cluster_size, n_clusters), singletons included as size-1 clusters.
    * Invariants: Σ cluster_size·n_clusters = corpus rows and
    * Σ n_clusters = the kept-row count of [[deduplicate]] under the same
    * config — each cluster keeps exactly one representative.
    *
    * EAGER, unlike the dedup entry points: the histogram is tiny (one
    * row per distinct cluster size), so it is collected to a
    * driver-local frame and the corpus pin is released before returning
    * — a long-running pipeline JVM calling this per batch must not
    * accumulate cached corpus copies.
    */
  def clusterSizeStats(df: DataFrame, column: String,
      cfg: MinHashConfig = MinHashConfig(),
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): DataFrame =
    Clustering.run(df, orderCol, maxDriverEdges, Pin.Released)(
      candidateEdges(_, column, cfg))(_.histogram(_))

  /** One clustering pass, two outputs: (kept rows, cluster-size
    * histogram). Calling [[deduplicate]] and [[clusterSizeStats]]
    * separately pays signatures + banding + clustering TWICE — at 100 TB
    * that is the single largest avoidable cost of "dedup with auditing"
    * (VERDICT r7 #2). The edges are computed and probed ONCE, then each
    * crossover branch derives BOTH outputs from the same clustering:
    *   - driver path (edges under budget): the broadcast UnionFind map
    *     serves kept as a zero-shuffle filter — the IDENTICAL plan
    *     [[deduplicate]] produces, so the flagship plan-shape guard sees
    *     no new exchange — and the histogram as driver arithmetic over
    *     the map plus one cached count();
    *   - distributed path (100 TB): kept = anti-join against the
    *     checkpointed root≠id rows (the small side — AQE broadcasts it),
    *     stats = the same histogram as [[clusterSizeStats]].
    * Kept SET equality with [[deduplicate]] + [[clusterSizeStats]] is
    * proven by DedupInvariantSpec (driver path) and ScaleSoakSpec
    * (distributed path). The kept frame reads the held corpus pin, which
    * lives exactly as long as that frame ([[Clustering.run]]).
    */
  def deduplicateWithStats(df: DataFrame, column: String,
      cfg: MinHashConfig = MinHashConfig(),
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): (DataFrame, DataFrame) =
    // Pin.Held, deliberately: this is a TWO-consumer API — stats
    // materialize eagerly inside the call (storing the pin's blocks), the
    // kept frame lazily afterwards. Re-deriving between the two makes the
    // second consumer re-run the whole upstream (the flagship's cleaner
    // trunk: measured +1.4 s on flagship_chat_pipeline at sf0.1, r15).
    // The pin is a lazy local checkpoint owned by the kept frame: freed
    // once the caller drops it, never shared with another call's pin.
    Clustering.run(df, orderCol, maxDriverEdges, Pin.Held)(
      candidateEdges(_, column, cfg))((c, withId) =>
      (c.keep(withId), c.histogram(withId)))

  /** PUBLIC (id, root) cluster-membership frame — every row maps to its
    * near-dup cluster representative (singletons to themselves), id =
    * `orderCol` when given. The reusable clustering surface: run the
    * candidate+clustering pass ONCE, then derive hard dedup (keep rows
    * where id = root), [[deduplicateWeighted]]-style weights (count by
    * root), cluster-size audits, and
    * [[graft.sampling.Splits.leakageSafeSplitFromRoots]] — all as
    * projections/aggregates over this one frame, instead of paying the
    * signature+banding+clustering cost per consumer.
    */
  def clusterRoots(df: DataFrame, column: String,
      cfg: MinHashConfig = MinHashConfig(),
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): DataFrame =
    Clustering.run(df, orderCol, maxDriverEdges)(
      candidateEdges(_, column, cfg))(_.roots(_))

  /** Duplication-aware SOFT dedup: keep each cluster's first row and
    * attach `weight` = cluster size instead of silently discarding the
    * duplication signal — the representative can then be up-weighted in
    * the training loss (or duplicate-count-aware sampled) so the
    * training distribution matches the crawl distribution without the
    * n× compute of physically repeating near-identical rows. Hard
    * [[deduplicate]] is this with the weight thrown away: the kept set
    * is IDENTICAL (same clustering, same keep-first minima) and
    * Σ weight = corpus rows — both spec-pinned.
    *
    * Plan shape: on the driver path, keep filter + weight column are
    * broadcast-map UDFs (zero shuffles); on the distributed path, one
    * count by root over [[clusterRoots]]' (id, root) frame and one
    * id-keyed join of the kept-count-sized weight frame back to the
    * corpus (AQE broadcasts it when small). No driver state beyond what
    * the clustering already holds.
    */
  def deduplicateWeighted(df: DataFrame, column: String,
      cfg: MinHashConfig = MinHashConfig(),
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): DataFrame =
    Clustering.run(df, orderCol, maxDriverEdges)(
      candidateEdges(_, column, cfg))(_.weighted(_))

  /** Near-dedup `df` on `column`, keeping each cluster's first row
    * (min id == first in row order, matching the reference's contiguous-id
    * keep-first semantics — monotonically_increasing_id preserves row
    * order, which is all `min` needs).
    *
    * `orderCol`: optional DATA-DERIVED unique non-null Long column
    * defining the keep-first order instead of physical row order. With
    * it, the kept set and representatives are deterministic under ANY
    * partitioning — callers that would otherwise need a global sort just
    * to pin row order (the flagship) can skip the sort entirely. It must
    * be RECOMPUTE-STABLE (a real column, not a synthetic
    * monotonically_increasing_id): with a named order the corpus cache
    * is released as soon as clustering materializes
    * ([[Clustering.Pin.IfStable]]), and the lazy output re-derives ids
    * from source. Without one, the output reads the synthetic ids from
    * a held pin that lives exactly as long as the output frame.
    *
    * `maxDriverEdges`: above this, clustering switches from the driver
    * UnionFind (reference-faithful) to distributed min-label propagation —
    * same min-representative semantics, no driver materialization.
    */
  def deduplicate(df: DataFrame, column: String,
      cfg: MinHashConfig = MinHashConfig(),
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None): DataFrame =
    Clustering.run(df, orderCol, maxDriverEdges)(
      candidateEdges(_, column, cfg))(_.keep(_))

  /** The candidate edge list feeding the clustering (identical-class star
    * edges + LSH band collisions — candidates, not verified pairs: the
    * reference treats any band collision as a duplicate,
    * minhash_deduplication.py:230-247). The correctness oracle reads the
    * signatures instead ([[bandedFrame]]) and derives these edges in SQL
    * (OracleSql.minhashCtes).
    */
  private[graft] def candidateEdges(withId: DataFrame, column: String,
      cfg: MinHashConfig): DataFrame = {
    val (identEdges, banded) = classEdgesAndBanded(withId, column, cfg)
    bucketMinEdges(banded, cfg.skewProbe).union(identEdges)
  }

  /** LSH candidates verified by an exact pair predicate — the one body
    * behind [[NgramJaccard.verifiedEdges]] and
    * [[EditDistanceDedup.verifiedEdges]]. Docs below
    * `sigCfg.minNgramSize` tokens are excluded from banding up front
    * (they cannot shingle, so the reference LSH would flood them into ONE
    * all-MAX_HASH bucket only for verification to reject every pair);
    * candidates are star-shaped per bucket via the streaming bucket-min
    * window (`sigCfg.skewProbe` reaches it — VERDICT r12 #3); then only
    * candidate pairs pull their texts back in (broadcast-able candidate
    * side at bench scale, shuffle join on id at cluster scale) and keep
    * the pair iff `verified(textA, textB)`. ALL verified pairs go to
    * clustering (multi-edges are fine for both union-find and min-label
    * propagation); a per-node min-reduction would drop cross-links and
    * over-keep vs transitive clustering.
    */
  private[dedup] def verifiedCandidates(withId: DataFrame, column: String,
      sigCfg: MinHashConfig)(
      verified: (Column, Column) => Column): DataFrame =
    bucketMinEdges(gatedBanded(withId, column, sigCfg), sigCfg.skewProbe)
      .join(withId.select(col(IdCol).as("__x__"), col(column).as("__ta__")),
        Seq("__x__"))
      .join(withId.select(col(IdCol).as("__y__"), col(column).as("__tb__")),
        Seq("__y__"))
      .where(verified(col("__ta__"), col("__tb__")))
      .select(col("__x__"), col("__y__"))

  /** The exploded (id, band, bsig) frame [[verifiedCandidates]] draws its
    * candidates from: every doc of at least `sigCfg.minNgramSize` tokens,
    * banded — the frame the verified-family SQL oracles read.
    */
  private[dedup] def gatedBanded(withId: DataFrame, column: String,
      sigCfg: MinHashConfig): DataFrame = {
    val text = coalesce(col(column), lit(""))
    // r20: early-exit fused gate (no token-array materialization) —
    // ≡ size(split(text, "[^A-Za-z_0-9]", -1)) >= n, FusedTextSpec
    val base = withId.where(
      graft.text.FusedText.nonAlphaPartsAtLeast(text, sigCfg.minNgramSize))
    // the signature UDF is the CPU hot path; a small parquet input arrives
    // as 1-2 splits, which would serialize it — spread AFTER id assignment
    // (ids anchor keep-first order) when the source is under-parallel.
    // Probe via the scan's file list, NOT df.rdd.getNumPartitions: touching
    // .rdd forces plan→RDD conversion (an extra job) in this constructor.
    val par = withId.sparkSession.sparkContext.defaultParallelism
    val srcFiles = withId.inputFiles.length
    val spread =
      if (srcFiles == 0 || srcFiles * 2 < par) base.repartition(par)
      else base
    spread.select(col(IdCol).as("id"),
      posexplode(signatureColumn(sigCfg)(text)).as(Seq("band", "bsig")))
  }

  /** The shared front half of every minhash-family pass: the identical/
    * short-class star edges plus the exploded (id, band, bsig) signature
    * frame of the class REPRESENTATIVES. Split out of [[candidateEdges]]
    * so the incremental store path ([[deduplicateAgainstStore]]) can
    * band-join the same frame against a persisted corpus store instead of
    * feeding [[bucketMinEdges]].
    */
  private[graft] def classEdgesAndBanded(withId: DataFrame, column: String,
      cfg: MinHashConfig): (DataFrame, DataFrame) = {
    val text = coalesce(col(column), lit(""))

    // 1) ONE streaming window does two jobs at once. Key = the text
    //    itself, except short docs (< minNgramSize tokens — empty shingle
    //    set, all-MAX_HASH signature, minhash_deduplication.py:50-51,109)
    //    which all share the NULL key (text is null-coalesced, so no real
    //    doc has it). Identical texts share every LSH band and short docs
    //    share the one degenerate bucket, so in both cases the reference
    //    clusters the whole class — the window's star edges to the class
    //    min reproduce that without materializing the r2 hot-key array,
    //    and leave ONE representative per class for the (now much
    //    smaller, evenly re-partitioned) banding stage.
    // r20: early-exit fused gate ≡ size(split(text, "[^A-Za-z_0-9]",
    // -1)) < minNgramSize without materializing the token array per row
    // (FusedTextSpec differential); text is already null-coalesced
    val isShort =
      !graft.text.FusedText.nonAlphaPartsAtLeast(text, cfg.minNgramSize)
    val classKey = when(!isShort, text)
    // explicit key repartition: pins the signature stage's parallelism
    // (AQE would coalesce this small shuffle to 1-2 partitions and run
    // the UDF serially) and doubles as the window's clustering. Both
    // branches read the same two columns, so the second reuses the
    // first's exchange — the corpus shuffles once.
    val withClassMin = withId
      .select(col(IdCol).as("id"), classKey.as("__k__"))
      .repartition(parallelism(withId), col("__k__"))
      .withColumn("__kmin__",
        min(col("id")).over(Window.partitionBy(col("__k__"))))
    val identEdges = withClassMin.where(col("id") =!= col("__kmin__"))
      .select(col("id").as("__x__"), col("__kmin__").as("__y__"))
    val reps = withClassMin.where(col("id") === col("__kmin__"))
      .select(col("id"), col("__k__"))

    // 2) LSH banding over representatives, signing the class key: the
    //    text itself, or null for the short class, whose lone rep hashes
    //    to an all-MAX_HASH singleton bucket — no edges
    val sig = signatureColumn(cfg)
    val banded = reps
      .select(col("id"), posexplode(sig(col("__k__")))
        .as(Seq("band", "bsig")))
    (identEdges, banded)
  }

  /** The class-representative (id, band, bsig) frame that every
    * minhash-family entry point bands `df` into, over the ids
    * [[Clustering.run]] assigns for `orderCol` (plus `idOffset`, the
    * store path's increment offset) — the frame the minhash SQL oracles
    * read. Ids must be data-derived for the frame to match a later run.
    */
  private[graft] def bandedFrame(df: DataFrame, column: String,
      cfg: MinHashConfig, orderCol: Option[String],
      idOffset: Long = 0L): DataFrame =
    classEdgesAndBanded(Clustering.withIds(df, orderCol, idOffset), column,
      cfg)._2

  /** Incremental dedup — the production shape for a continuously-growing
    * corpus: drop rows of `newDf` that are near-duplicates of `refDf`
    * (the already-kept corpus) or of earlier `newDf` rows; `refDf` is
    * never modified. Returns the surviving `newDf` rows; every reference
    * row orders below every new row by construction — see
    * [[Clustering.against]].
    */
  def deduplicateAgainst(newDf: DataFrame, refDf: DataFrame, column: String,
      cfg: MinHashConfig = MinHashConfig(),
      maxDriverEdges: Long = 10_000_000L): DataFrame =
    Clustering.against(newDf, refDf, maxDriverEdges)(
      candidateEdges(_, column, cfg))

  /** The increment side's id offset: see [[Clustering.NewIdOffset]]. */
  val NewIdOffset: Long = Clustering.NewIdOffset


  /** The banded-signature STORE frame for a retained corpus: one row per
    * occupied LSH bucket, (band, bsig, id = bucket-min member id). This is
    * what a nightly pipeline PERSISTS between runs so
    * [[deduplicateAgainstStore]] can dedup an increment at |delta| cost —
    * the VERDICT r9 #1 gap: [[deduplicateAgainst]] recomputes signatures
    * for corpus ∪ increment every run, so nightly work scaled with
    * |corpus| even when the increment was tiny.
    *
    * Keeping only the bucket-min id is lossless for increment semantics:
    * a new row dies iff its cluster contains ANY retained id, and linking
    * it to the bucket min produces the same clusters over new rows as
    * linking it to every member (retained-side internal edges can only
    * merge clusters that each already contain a retained id — which
    * changes no new row's fate). It also makes the store MERGEABLE:
    * min-per-bucket is associative, so [[mergeStores]] folds a new
    * batch's store in with one bounded groupBy.
    *
    * `orderCol` (a data-derived unique Long, e.g. an ingest sequence)
    * makes store ids deterministic; ids must stay below the increment
    * side's offset ([[NewIdOffset]] by default). Reference anchor: the
    * dedup entry point this makes continuously runnable,
    * minhash_deduplication.py:214-319.
    */
  def bandedStore(refDf: DataFrame, column: String,
      cfg: MinHashConfig = MinHashConfig(),
      orderCol: Option[String] = None): DataFrame =
    // the ident-edge branch is discarded, so the corpus is scanned ONCE —
    // no id-pin persist (ADVICE r10: a cache unpersisted before the
    // store materializes is pure bookkeeping overhead)
    bandedFrame(refDf, column, cfg, orderCol)
      .groupBy("band", "bsig").agg(min(col("id")).as("id"))

  /** Write a [[bandedStore]] to parquet, REPARTITIONED on (band, bsig) so
    * the increment's band-join reads co-located buckets (publish through
    * [[graft.sources.Sources]]' bucketed publish when a metastore is
    * available for a fully shuffle-free join). Returns the read-back
    * frame — callers should join against the bytes on disk, not the
    * lineage.
    */
  def exportBandedStore(refDf: DataFrame, column: String, path: String,
      cfg: MinHashConfig = MinHashConfig(),
      orderCol: Option[String] = None): DataFrame = {
    val store = bandedStore(refDf, column, cfg, orderCol)
    store.repartition(parallelism(refDf), col("band"), col("bsig"))
      .write.mode("overwrite").parquet(path)
    refDf.sparkSession.read.parquet(path)
  }

  /** Fold one store into another (e.g. the surviving increment's
    * [[bandedStore]] into the retained corpus's): bucket-min of the
    * union — ≤ |buckets| rows shuffle, associative, order-free.
    */
  def mergeStores(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("band", "bsig").agg(min(col("id")).as("id"))

  // ------------------------------------------------------------------
  // Retention (VERDICT r11 #3 / r12 #4): takedowns are a production
  // reality, and the compacted [[bandedStore]] CANNOT honor them alone
  // — it keeps only each bucket's min id, so deleting that id strands
  // the bucket (the other members' banded rows were discarded at
  // compaction, and nothing short of re-signaturing the corpus can
  // promote the next member). The retention-grade persisted artifact
  // is therefore the JOURNAL: the full (band, bsig, id) frame with one
  // row per (row, band) — |corpus|×bands rows, the honest price of
  // delete support. Deletes are an anti-join on id; compaction
  // re-derives the EXACT store of the retained-minus-deleted corpus
  // (bucket-min is a pure function of the surviving journal rows), so
  // `deduplicateAgainstStore(new, compactJournal(deleteFromJournal(j,
  // ids)))` ≡ recompute against the physically-filtered corpus —
  // DedupRetentionSpec. A pipeline that never deletes can keep only
  // the compacted store; one that does keeps the journal (bucketed on
  // (band, bsig) at cluster scale, like the store) and publishes
  // compactions from it.
  // ------------------------------------------------------------------

  /** Full banded-signature journal of a retained corpus: (band, bsig,
    * id) for EVERY row (not just bucket minima — see the retention
    * block comment). `compactJournal(bandedJournal(ref))` equals
    * `bandedStore(ref)` exactly: every duplicate row's class
    * representative shares all its buckets and has a smaller id, so
    * the bucket-min over all rows is the bucket-min over
    * representatives (spec-pinned).
    */
  def bandedJournal(refDf: DataFrame, column: String,
      cfg: MinHashConfig = MinHashConfig(),
      orderCol: Option[String] = None): DataFrame = {
    val text = coalesce(col(column), lit(""))
    val sig = signatureColumn(cfg)
    Clustering.withIds(refDf, orderCol)
      .select(col(IdCol).as("id"), posexplode(sig(text))
        .as(Seq("band", "bsig")))
      .select("band", "bsig", "id")
  }

  /** Takedown: drop every journal row of the given ids (one-column
    * frame, any name). Broadcast-able when the delete list is small —
    * the usual takedown shape; at bulk-delete scale AQE picks the
    * shuffle join.
    */
  def deleteFromJournal(journal: DataFrame, ids: DataFrame): DataFrame =
    journal.join(ids.toDF("id"), Seq("id"), "left_anti")

  /** Compaction: journal → the exact [[bandedStore]] of the journal's
    * surviving rows (one bounded groupBy; deleted buckets promote
    * their next-min member, emptied buckets disappear).
    */
  def compactJournal(journal: DataFrame): DataFrame =
    journal.groupBy("band", "bsig").agg(min(col("id")).as("id"))

  /** Incremental near-dedup at |delta| cost — the nightly-ingestion shape
    * VERDICT r9 #1 asked for: signatures and banding are computed for the
    * INCREMENT ONLY; the retained corpus is represented by its persisted
    * [[bandedStore]] (read back from its published path), so per-run work
    * scales with |increment|, not |corpus|. Semantics are identical to
    * [[deduplicateAgainst]] over the store's source corpus (spec-proven:
    * DedupStoreSpec store-path ≡ recompute-path): keep-first over
    * corpus ∪ increment with every retained row ordering below every new
    * row, returning the surviving increment rows.
    *
    * Edge construction:
    *  - within-increment: the standard identical/short-class star edges +
    *    LSH bucket-min edges over the increment's own banded frame;
    *  - increment → store: a band-join of the increment's (id, band,
    *    bsig) rows against the store's occupied buckets — any collision
    *    links the new row to a retained id, which can never be its
    *    cluster min (ids offset by `newIdOffset`), so the row drops.
    * The increment's banded frame is computed ONCE (pinned) and feeds
    * both edge families, and the skew probe when `cfg.skewProbe` is
    * set; the store-side join is broadcast-able when the increment is
    * small and co-located when the store is bucket-published
    * on (band, bsig).
    *
    * `orderCol` values must be unique, non-null, and < 2^63 −
    * `newIdOffset`; store ids must be < `newIdOffset` (the
    * [[exportBandedStore]] contract). For multi-batch pipelines pass an
    * ever-growing ingest sequence as `orderCol` with `newIdOffset = 0`
    * and ids already above the store's.
    *
    * EAGER: the surviving rows (|increment|-bounded) are materialized via
    * localCheckpoint and the withId cache released before returning; the
    * banded pin belongs to the dropped edges, so ContextCleaner frees it
    * — the per-batch caller this API targets must not accumulate cached
    * frames across batches (see [[clusterSizeStats]]).
    */
  def deduplicateAgainstStore(newDf: DataFrame, store: DataFrame,
      column: String, cfg: MinHashConfig = MinHashConfig(),
      maxDriverEdges: Long = 10_000_000L,
      orderCol: Option[String] = None,
      newIdOffset: Long = NewIdOffset): DataFrame =
    Clustering.againstStore(newDf, orderCol, newIdOffset, maxDriverEdges) {
      withId =>
        val (identEdges, banded0) = classEdgesAndBanded(withId, column, cfg)
        // one signature pass feeds both the within-increment bucket edges
        // and the store join: pin — |increment|×bands rows, the frame a
        // nightly run would append to the store afterwards anyway. The
        // skew probe reads this pin too instead of storing a second copy.
        val banded = banded0.localCheckpoint(eager = false)
        val crossEdges = banded
          .join(store.withColumnRenamed("id", "__sid__"), Seq("band", "bsig"))
          .select(col("id").as("__x__"), col("__sid__").as("__y__"))
          .distinct()
        val withinEdges =
          if (cfg.skewProbe) probedBucketMinEdges(banded)
          else windowBucketMinEdges(banded)
        withinEdges.union(identEdges).union(crossEdges)
    }
}
