package graft

import org.scalatest.funsuite.AnyFunSuite

/** Streaming state-bound soak (VERDICT r6 #7): drive the simhash
  * near-dedup stream through many microbatches of ever-fresh keys with
  * advancing event time and assert watermark eviction keeps the state
  * store BOUNDED — the spec fails if state grows monotonically with the
  * number of batches (the failure mode of plain `dropDuplicates`, whose
  * key state is never evicted).
  */
class StreamingSoakSpec extends AnyFunSuite with SharedSession {

  test("near-dedup state stays bounded under watermark eviction") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = graft.streaming.StreamingPipeline.streamingNearDedup(
      mem.toDF.toDF("id", "ts", "text"), "text", "ts", "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("soak_nd").start()
    val perBatch = 40
    val batches = 12
    val stateSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      (0 until batches).foreach { b =>
        // 40 distinct simhash keys per batch (fresh word sets), event
        // time advancing 60 s per batch — far past the 10 s delay, so
        // batch b's keys are evictable as soon as batch b+1 arrives
        val rows = (0 until perBatch).map { j =>
          val text = s"batch$b token$j alpha${b * perBatch + j} " +
            s"content unique${j}x${b} words flow"
          ((b * perBatch + j).toLong,
            new java.sql.Timestamp(b * 60000L), text)
        }
        mem.addData(rows)
        q.processAllAvailable()
        val p = q.lastProgress
        if (p != null && p.stateOperators.nonEmpty)
          stateSizes += p.stateOperators.head.numRowsTotal
      }
      // drain batch (ADVICE r7: eviction can lag a trigger cycle under a
      // loaded executor, so sample the FINAL size only after one more
      // watermark advance gives eviction a cycle to land): a single key
      // far past every prior event time flushes all earlier state
      mem.addData(Seq((999999L,
        new java.sql.Timestamp(batches * 60000L + 3600000L), "drain row")))
      q.processAllAvailable()
      val p = q.lastProgress
      if (p != null && p.stateOperators.nonEmpty)
        stateSizes += p.stateOperators.head.numRowsTotal
    } finally q.stop()
    assert(stateSizes.nonEmpty)
    val inserted = (perBatch * batches).toLong // 480 distinct keys total
    val maxState = stateSizes.max
    // bounded — the DISCRIMINATING property (ADVICE r7): the store never
    // holds more than a small multiple of ONE BATCH, far below the full
    // key history (the control below plateaus at ~inserted). The observed
    // steady plateau is exactly one batch (40); 4 batches of slack lets
    // eviction lag up to three trigger cycles on a loaded executor
    // without flaking, while a retention regression of 5+ batches still
    // fails. Deliberately a fixed per-batch multiple, NOT a fraction of
    // `inserted` — a fraction would loosen as batch count grows.
    assert(maxState <= perBatch * 4L,
      s"state grew to $maxState rows (inserted $inserted): " +
        s"sizes=${stateSizes.mkString(",")}")
    // after the drain cycle everything older than the watermark is gone:
    // at most the drain row's own batch (plus a laggard batch) remains
    assert(stateSizes.last <= perBatch * 2L,
      s"final state ${stateSizes.last} did not drain: " +
        s"sizes=${stateSizes.mkString(",")}")
    // nearly all fresh keys pass the dedup while their predecessors hold
    // state (distinct short texts occasionally COLLIDE to one simhash —
    // ~1-4 per 40 observed — and collide-then-drop is correct near-dedup
    // behavior, so the bound tolerates it)
    val emitted = spark.table("soak_nd").count()
    assert(emitted >= inserted * 9 / 10 && emitted <= inserted + 1,
      s"emitted $emitted of $inserted distinct keys (+1 drain row)")
  }

  test("control: plain dropDuplicates DOES grow state monotonically") {
    // proves the soak assertions discriminate: the exact failure mode the
    // watermarked operator exists to avoid (key state never evicted)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val out = mem.toDF.toDF("id", "ts", "text")
      .withColumn("__sh__",
        graft.dedup.SimHash.signature(org.apache.spark.sql.functions
          .col("text")))
      .withWatermark("ts", "10 seconds")
      .dropDuplicates("__sh__")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("soak_ctl").start()
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      (0 until 6).foreach { b =>
        mem.addData((0 until 40).map { j =>
          ((b * 40 + j).toLong, new java.sql.Timestamp(b * 60000L),
            s"ctl$b token$j beta${b * 40 + j} more words here")
        })
        q.processAllAvailable()
        val p = q.lastProgress
        if (p != null && p.stateOperators.nonEmpty)
          sizes += p.stateOperators.head.numRowsTotal
      }
    } finally q.stop()
    // unbounded: every batch's keys are retained forever (minus the few
    // simhash collisions) — ~6x the watermarked operator's plateau
    assert(sizes.last >= 150L && sizes.toSeq == sizes.toSeq.sorted,
      s"expected monotonic growth, got sizes=${sizes.mkString(",")}")
  }
}
