package graft

/** Driver-run benchmark: one JSON line with total + per-query seconds over
  * `SparkEntry.queries` at `SPARK_GRAFT_SF_DIR`. A tiny untimed warmup
  * first exercises session/codegen startup so per-query numbers measure
  * the queries, not JIT; queries run in sorted name order for stable
  * attribution across rounds. `SPARK_GRAFT_BENCH_REPEAT` (default 2) runs
  * each query N times and reports the BEST — machine-load noise (±15%
  * observed round-over-round on the driver) stops masquerading as plan
  * changes.
  *
  * SELF-CERTIFYING (VERDICT r8 #1 — two rounds running, the headline
  * number overstated the engine because the artifact carried no evidence
  * of machine load or warmup cost): the JSON line now also carries
  *  - `reps`: EVERY repetition's seconds per query, not just the best —
  *    a loaded machine shows as high rep variance, a plan change as a
  *    uniform shift across reps;
  *  - `loadavg_before` / `loadavg_after`: /proc/loadavg 1-min samples
  *    bracketing the timed section (this box has 32 hw threads; a 1-min
  *    load far above 32 while a single local[32] JVM runs means external
  *    contention — r8's artifact ran at 1.9× r7's wall for the same sbt
  *    work);
  *  - `warmup_sec`: the untimed full-pass wall time (where all one-time
  *    side-channel exports land);
  *  - the per-query map printed SORTED BY COST DESCENDING, so tail
  *    truncation of the line can never again hide the expensive half;
  *  - `errors`: every query that threw (warm pass or a timed rep) with
  *    its first exception. A failed rep is never a time (`null` in
  *    `reps`), and a query with no successful rep is absent from
  *    `queries` — a broken query can no longer look fast.
  */
object Bench {
  /** (1-min, 5-min) loadavg — both figures, because the 1-min average
    * decays below threshold within one retry sleep on a box that was
    * busy 30 s ago while the 5-min average still shows the contention
    * (VERDICT r16 "what's wrong" #2).
    */
  private def loadavg: (Double, Double) =
    try {
      val f = scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")
      (f(0).toDouble, f(1).toDouble)
    } catch { case _: Throwable => (-1.0, -1.0) }

  /** The established load rule: artifacts taken at 1-min loadavg above
    * this are invalid (the box is contended; r8/r14/r15 all burned judge
    * time re-running such rounds).
    */
  private[graft] val LoadValidMax = 2.0

  /** The 5-min companion gate (VERDICT r16 #6): higher threshold — the
    * 5-min average carries the tail of legitimately-finished work (the
    * driver's own sbt compile, the prior round's verify), so only a
    * figure that says the box was busy through the whole decay window
    * invalidates.
    */
  private[graft] val Load5ValidMax = 4.0

  /** VERDICT r15 #6 — act on the self-certification instead of just
    * recording it: if the pre-run load is above [[LoadValidMax]] (1-min)
    * or [[Load5ValidMax]] (5-min), sleep once and re-read; if STILL
    * above either, the artifact self-marks `"load_invalid": true` so a
    * driver-round number taken on a loaded box can never again
    * masquerade as a regression. Returns ((load1, load5), loadInvalid).
    * A negative reading (no /proc/loadavg) is "unknown", not invalid.
    */
  private[graft] def loadGate(load: () => (Double, Double),
      sleep: () => Unit): ((Double, Double), Boolean) = {
    def bad(l: (Double, Double)): Boolean =
      (l._1 >= 0 && l._1 > LoadValidMax) ||
        (l._2 >= 0 && l._2 > Load5ValidMax)
    val first = load()
    if (!bad(first)) (first, false)
    else {
      sleep()
      val second = load()
      (second, bad(second))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeat = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "2").toInt)
    val spark = GraftSession.local()
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to named queries (profiling
    // aid; the driver never sets it, so round numbers stay comparable)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // sleep-and-retry once if the box is loaded, then self-mark the
    // artifact invalid rather than publishing a silently-contended number
    val ((loadBefore, load5Before), loadInvalid) = loadGate(() => loadavg,
      () => Thread.sleep(60000))
    if (loadInvalid) System.err.println(
      f"[bench] WARNING loadavg 1m=$loadBefore%.2f/5m=$load5Before%.2f " +
        f"over ($LoadValidMax, $Load5ValidMax) after retry - artifact " +
        "will carry load_invalid=true")
    // warmup, untimed (JMH-style: steady-state is what a long-running
    // pipeline sees): ONE full pass over the whole timed set BEFORE any
    // timed rep. This both exercises every codegen/JIT shape before the
    // clock starts AND pre-claims every one-time side-channel export
    // (dedup banded/sig frames, flagship banded frame, cluster-stats
    // banding, f2 ARPA dump, IVF cells, fuzz corpus — all claimed per
    // (JVM, scale)), so no timed repetition ever pays a parquet write
    // (VERDICT r7 #1: a partial warmup left exports unclaimed and a
    // timed rep carried the write).
    //
    // MEASURED, r19: a lazy per-query warm (each query warmed once
    // immediately before its own timed reps) was tried for VERDICT r18
    // #4 and REGRESSED the timed total ~40% on an idle box (103.1 s vs
    // the 64-72 s global-warm runs on identical code; per-rep variance
    // was LOW, i.e. a systematic shift, not load). Cause: timed reps of
    // early queries then run on a JVM whose shared tiers — parquet scan,
    // unsafe-row machinery, shuffle, janino, C2-compiled Spark core —
    // are still cold; a global pass has fully tiered-compiled all of it
    // before the first timed rep. The global pass stays, and the warmup
    // WALL cost is cut instead by running it on a small thread pool
    // (SPARK_GRAFT_WARM_THREADS, default 4): Spark schedules concurrent
    // jobs FIFO at stage granularity, most queries leave most of the 32
    // cores idle, and the one-time exports are race-free — every
    // side-channel path is written by exactly ONE query (audited r19)
    // and SideChannel serializes each path's export as defense-in-depth.
    // A query's exports happen before it calls its library entry point,
    // so once the warm pass has claimed them a timed rep runs exactly the
    // entry point's plan — the one pipeline.Runner runs.
    // The heaviest dedup/flagship lines showed ±20-40% swings between
    // rounds with no plan change (r5 verdict); give them an extra repeat so
    // the reported best is load-noise-resistant where it matters most.
    // r8: flagship_e2e_minhash + dedup_cluster_stats joined the hot set —
    // they are now among the 5 most expensive lines (VERDICT r7).
    val hotRepeat = math.max(repeat,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT_HOT", "3").toInt)
    val hot = Set("flagship_chat_pipeline", "dedup_minhash",
      "dedup_ngram_jaccard", "flagship_e2e_minhash", "dedup_cluster_stats")
    // SPARK_GRAFT_BENCH_VERBOSE=1 prints every repetition to stderr —
    // variance data for separating machine-load noise from plan changes
    val verbose = sys.env.get("SPARK_GRAFT_BENCH_VERBOSE").contains("1")
    val warmThreads = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_WARM_THREADS", "4").toInt)
    // every exception is recorded per query (first one wins), never
    // turned into a time: a throwing query must not look fast
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def attempt(name: String, phase: String)(body: => Unit): Boolean =
      try { body; true } catch { case e: Throwable =>
        errors.putIfAbsent(name, s"$phase: ${e.getClass.getName}: " +
          e.getMessage)
        false
      }
    val w0 = System.nanoTime()
    if (warmThreads <= 1) {
      qs.foreach { case (name, fn) =>
        attempt(name, "warmup")(fn(spark, sfDir).count())
      }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(warmThreads)
      try {
        val futures = qs.map { case (name, fn) =>
          pool.submit(new Runnable {
            def run(): Unit =
              attempt(name, "warmup")(fn(spark, sfDir).count())
          })
        }
        futures.foreach(_.get())
      } finally pool.shutdown()
    }
    val warmupSec = (System.nanoTime() - w0) / 1e9
    val results = qs.map { case (name, fn) =>
      // per-run isolation, OUTSIDE the timer: drop cached blocks leaked
      // by earlier queries (dedup persists live as long as their result
      // plans), drop the per-JVM shingle cache (the warmup and earlier
      // iterations populate it with this exact corpus — timed dedup
      // must measure COLD-shingle throughput, ADVICE r3), and compact
      // the heap so query N's time doesn't depend on what ran before it
      // (r2 driver bench showed 2-4× cross-query contamination)
      def isolate(): Unit = {
        spark.catalog.clearCache()
        graft.dedup.MinHash.clearPermCache()
        // dsir_fit must price the two fit aggregations, not a memo hit
        // (VERDICT r10 #2); other queries (dsir_select, dsir_bucket_counts)
        // keep the memo — they price steady serving by design
        if (name == "dsir_fit") QueriesExtra6.clearFitMemo()
        System.gc()
      }
      val n = if (hot(name)) hotRepeat else repeat
      // a failed rep is None: it never counts toward the best time
      val reps = (1 to n).map { i =>
        isolate()
        val t0 = System.nanoTime()
        if (attempt(name, s"rep $i")(fn(spark, sfDir).count()))
          Some((System.nanoTime() - t0) / 1e9)
        else None
      }
      if (verbose) System.err.println(f"[bench] $name reps=" +
        reps.map(_.fold("failed")(r => f"$r%.3f")).mkString(","))
      (name, reps)
    }.collect { case (name, reps) if reps.exists(_.isDefined) =>
      (name, reps.flatten.min, reps)
    }
    val (loadAfter, load5After) = loadavg
    // cost-descending: truncation from the tail drops only cheap queries
    val byCost = results.sortBy(-_._2)
    // r20 MEASUREMENT-BUG FIX (declared in OPTIMIZATION_r20.md): every
    // BENCH_r01..r19.json has `"parsed": null` — the driver never parsed
    // the contract line, for two compounding reasons: (a) sbt's forked-run
    // LoggedOutput prefixed every stdout line with "[info] " (fixed in
    // build.sbt via StdoutOutput), and (b) the contract line carried the
    // bulky per-rep map and was followed by a "total_compact" line, so a
    // tail-keeping capture saw a line WITHOUT the `queries` field last.
    // Now: diagnostics lines (reps, compact top-20) print FIRST and the
    // ONE contract line — metric/value/unit/queries/sf plus the
    // self-certification scalars — prints LAST, raw, with per-query
    // values at 4 decimals (0.1 ms; the timer itself is noisier). The
    // TIMING methodology (warmup, isolation, best-of-N, .count()) is
    // byte-for-byte unchanged, and the queries map still contains every
    // query with the same names as r19.
    val qjson = byCost.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val repsJson = byCost.map { case (k, _, rs) =>
      "\"" + k + "\":[" +
        rs.map(_.fold("null")(r => f"$r%.3f")).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // queries absent from `queries` (no successful rep) and queries that
    // threw in any phase, with their first exception
    val errorsJson = {
      import scala.jdk.CollectionConverters._
      errors.asScala.toSeq.sorted.map { case (k, m) =>
        Verify.jsonString(k) + ":" + Verify.jsonString(m)
      }.mkString("{", ",", "}")
    }
    if (!errors.isEmpty) System.err.println(
      s"[bench] ${errors.size} queries threw: $errorsJson")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // per-rep variance data (machine-load noise vs plan change), its own
    // line so the contract line stays short
    println(s"""{"metric":"reps","unit":"sec","sf":"$sfDir","reps":$repsJson}""")
    // compact headline + top-20 (r9-r19 shape, kept for log readers and
    // as the truncation-proof fallback; distinct metric name per ADVICE
    // r10 so a consumer filtering on "total" sees exactly ONE record)
    val top20 = byCost.take(20).map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total_compact","value":$total,"unit":"sec","sf":"$sfDir","n":${results.size},"loadavg_before":$loadBefore,"loadavg5_before":$load5Before,"loadavg_after":$loadAfter,"loadavg5_after":$load5After,"load_invalid":$loadInvalid,"warmup_sec":$warmupSec,"top20":$top20,"total_sec":$total}""")
    // THE contract line, last: total_sec/n duplicated at the END so the
    // headline survives truncation from either side (BENCH_r05 lesson).
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qjson,"errors":$errorsJson,"sf":"$sfDir","loadavg_before":$loadBefore,"loadavg5_before":$load5Before,"loadavg_after":$loadAfter,"loadavg5_after":$load5After,"load_invalid":$loadInvalid,"warmup_sec":$warmupSec,"total_sec":$total,"n":${results.size}}""")
    spark.stop()
  }
}
