package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the calls a workload makes into the engine's layers. The
  * untraced passes use [[NoTrace]]; the staged run uses [[SpanTracer]].
  */
trait Tracer {

  /** Run `body` as layer `name`; `rowsOut` (evaluated inside the span,
    * since it may materialize) gives the rows the layer produced, and
    * `rowsIn` (evaluated before the span, and only when tracing) > 0 adds
    * the span's keep ratio.
    */
  def span[A](name: String, rowsIn: => Long = -1)(body: => A)(rowsOut: A => Long): A

  /** A diagnostic span off the pipeline path: runs only when tracing. */
  def diagnostic(name: String, rows: => Long)(body: => Unit): Unit
}

object NoTrace extends Tracer {
  def span[A](name: String, rowsIn: => Long)(body: => A)(rowsOut: A => Long): A = body
  def diagnostic(name: String, rows: => Long)(body: => Unit): Unit = ()
}

/** RDDs the staged run materialized its layer outputs into; they are the
  * harness's own, so `pinned_rdds` leaves them out.
  */
object Staging {
  val owned: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()
}

/** Per-span task totals, filled by the listener from stages whose job
  * carried the span's local property.
  */
final class TaskTotals {
  var cpuNs, runMs, shuffleWrite, fetchWaitMs, spill = 0L
}

final class SpanRecorder extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]
  val totals = new ConcurrentHashMap[String, TaskTotals]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanTracer.Key)))
      .foreach(stageSpan.put(e.stageInfo.stageId, _))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val t = totals.computeIfAbsent(span, _ => new TaskTotals)
      t.synchronized {
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Tags every job started inside a span with the local property
  * `perfbench.span` (Spark hands local properties on to the broadcast and
  * subquery threads a query starts), and records the span's wall time,
  * the calling thread's CPU, rows, and the persisted RDDs the traced run
  * added that are still cached when the span ends.
  */
final class SpanTracer(spark: SparkSession, cores: Int) extends Tracer {

  final class Span {
    var wall, driverCpu = 0.0
    var rowsOut, pinned = 0L
    var keep: Option[Double] = None
  }

  private val recorder = new SpanRecorder
  private val sc = spark.sparkContext
  private val threads = ManagementFactory.getThreadMXBean
  private val spans = mutable.LinkedHashMap.empty[String, Span]
  /** (diagnostic?, start, end) in nanoseconds, in call order. */
  private val calls = mutable.Buffer.empty[(Boolean, Long, Long)]
  private val pinnedBefore = sc.getPersistentRDDs.keySet

  sc.addSparkListener(recorder)

  def span[A](name: String, rowsIn: => Long)(body: => A)(rowsOut: A => Long): A =
    record(name, diagnostic = false, rowsIn)(body)(rowsOut)

  def diagnostic(name: String, rows: => Long)(body: => Unit): Unit = {
    val n = rows
    record(name, diagnostic = true, -1)(body)(_ => n)
  }

  private def record[A](name: String, diagnostic: Boolean, rowsIn: => Long)(
      body: => A)(rowsOut: A => Long): A = {
    val s = spans.getOrElseUpdate(name, new Span)
    val in = rowsIn
    sc.setLocalProperty(SpanTracer.Key, name)
    val c0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    try {
      val out = body
      val rows = rowsOut(out)
      s.rowsOut = rows
      if (in > 0)
        s.keep = Some(s.keep.getOrElse(1.0) * rows.toDouble / in)
      out
    } finally {
      val t1 = System.nanoTime()
      calls += ((diagnostic, t0, t1))
      s.wall += (t1 - t0) / 1e9
      s.driverCpu += (threads.getCurrentThreadCpuTime - c0) / 1e9
      sc.setLocalProperty(SpanTracer.Key, null)
      s.pinned = sc.getPersistentRDDs.keys.count(id =>
        !pinnedBefore.contains(id) && !Staging.owned.contains(id))
    }
  }

  /** Seconds from the first pipeline span's start to the last one's end,
    * without diagnostic spans run in between: the staged pipeline's wall.
    */
  def stagedWall: Double = {
    val pipe = calls.filterNot(_._1)
    val (from, to) = (pipe.map(_._2).min, pipe.map(_._3).max)
    val diag = calls.collect {
      case (true, a, b) if a >= from && b <= to => b - a
    }.sum
    (to - from - diag) / 1e9
  }

  /** Share of [[stagedWall]] that pipeline spans account for. */
  def coverage: Double =
    calls.collect { case (false, a, b) => b - a }.sum / 1e9 / stagedWall

  /** Every per-layer metric, `<span>.<metric>` -> (value, unit); spans
    * this workload never ran report zeros.
    */
  def report(): Seq[(String, Double, String)] = {
    org.apache.spark.perfbenchbus.Bus.drain(sc)
    sc.removeSparkListener(recorder)
    SpanTracer.Spans.flatMap { name =>
      val s = spans.getOrElse(name, new Span)
      val t = Option(recorder.totals.get(name)).getOrElse(new TaskTotals)
      val util = if (s.wall > 0) t.runMs / 1e3 / (s.wall * cores) else 0.0
      val keep =
        if (SpanTracer.KeepRatioSpans.contains(name))
          Seq(("keep_ratio", s.keep.getOrElse(0.0), "ratio"))
        else Nil
      (Seq(
        ("wall_s", s.wall, "s"),
        ("cpu_s", t.cpuNs / 1e9, "s"),
        ("driver_cpu_s", s.driverCpu, "s"),
        ("util", util, "ratio"),
        ("shuffle_mb", t.shuffleWrite / 1e6, "MB"),
        ("fetch_wait_s", t.fetchWaitMs / 1e3, "s"),
        ("spill_mb", t.spill / 1e6, "MB"),
        ("rows_out", s.rowsOut.toDouble, "count"),
        ("pinned_rdds", s.pinned.toDouble, "count")) ++ keep)
        .map { case (m, v, u) => (s"$name.$m", v, u) }
    }
  }
}

object SpanTracer {
  val Key = "perfbench.span"

  /** Every span any workload records, in pipeline order. */
  val Spans: Seq[String] = Seq("sources.combine", "chat.explode", "text.clean",
    "text.filter", "dedup.minhash", "dedup.minhash_dist", "dedup.simhash",
    "dedup.ngram_jaccard", "dedup.against_store", "dedup.store_merge",
    "chat.chatml", "sources.publish", "dedup.signatures")

  /** Spans that drop rows, and so report `keep_ratio`. */
  val KeepRatioSpans: Set[String] = Set("text.filter", "dedup.minhash",
    "dedup.minhash_dist", "dedup.simhash", "dedup.ngram_jaccard",
    "dedup.against_store")
}
