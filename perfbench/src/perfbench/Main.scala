package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Harness for one run of one workload (see perfbench/README.md):
  * set-up, a cold pass, warm-up passes, steady passes, output checks
  * outside the timed region, and with `--trace 1` a staged traced run.
  * Writes the result object to `<work>/result.json`.
  */
object Main {

  /** Input generations per run; `setup_s` takes their median. */
  val SetupReps = 3

  /** Least share of the staged wall that pipeline spans must cover. */
  val MinCoverage = 0.95

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cores: Int, scale: Double,
      inject: String, expect: Map[String, String])

  final case class Pass(index: Int, wall: Double, cpu: Double,
      error: Option[String])

  private val jit = ManagementFactory.getCompilationMXBean
  private val classes = ManagementFactory.getClassLoadingMXBean
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  def parse(m: Map[String, String]): Opts = {
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("work"), get("cores").toInt,
      m.getOrElse("scale", "1").toDouble, m.getOrElse("inject", "none"),
      m.get("expect").filter(_.nonEmpty).toSeq
        .flatMap(_.split(",")).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v }.toMap)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // one scan task per input file, whatever the core count, so the
      // physical row order (and with it keep-first dedup) is fixed
      .config("spark.sql.files.openCostInBytes", (128L << 20).toString)
      // room for every generated class a pass uses: at the default 100
      // entries a pass evicts its own code, so each pass recompiles it
      // and the JIT never settles
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // fixed shuffle partitions: no re-planning on measured stage sizes
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    def q(p: Double): Double = {
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
    (q(0.25), q(0.5), q(0.75))
  }

  def median(xs: Seq[Double]): Double = quartiles(xs)._2

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(args: Array[String]): Unit =
    try {
      val m = args.grouped(2).collect { case Array(k, v) =>
        k.stripPrefix("--") -> v }.toMap
      if (m.contains("warmup")) warmup(m("work"), m("cores").toInt)
      else run(parse(m))
      sys.exit(0)
    } catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  /** Set-up, pass and output check of `chat_pipeline` on tiny inputs: the
    * build runs this once to record which classes the class-data-sharing
    * archive holds. That loads nearly all of Spark's classes a run needs;
    * the other workload's own classes are left out to keep the build
    * short.
    */
  def warmup(work: String, cores: Int): Unit = {
    val spark = session(cores, work)
    val w = ChatPipeline
    val rows = w.setup(spark, s"$work/in", 0, 0.02)
    w.pass(spark, s"$work/in", s"$work/out", rows)
    Digest.all(w.outputs(spark, s"$work/out"))
    spark.stop()
  }

  def run(o: Opts): Unit = {
    val w = Workload(o.workload)
    val spark = session(o.cores, o.work)
    val sessionReady = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val in = s"${o.work}/in"

    var rows = 0L
    val gens = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      rows = w.setup(spark, in, o.seed, o.scale)
      seconds(t0)
    }
    val setupS = sessionReady + median(gens)
    def bytes(f: File): Long =
      if (f.isDirectory) f.listFiles.map(bytes).sum else f.length
    println(f"[setup] session $sessionReady%.3f s, inputs " +
      gens.map(g => f"$g%.3f").mkString(" ") + f" s, $rows input rows, " +
      f"${bytes(new File(in)) / 1e6}%.1f MB on disk")

    var first: Option[Map[String, Digest]] = None
    val keepOut = s"${o.work}/out/first"

    def runPass(k: Int): Pass = {
      val out = if (k == 0) keepOut else s"${o.work}/out/p$k"
      val c0 = os.getProcessCpuTime
      val (jit0, gc0, cl0) = (jit.getTotalCompilationTime, gcMillis,
        classes.getTotalLoadedClassCount)
      val t0 = System.nanoTime()
      val res = try {
        w.pass(spark, in, out, rows)
        if (o.inject == "throw" && k == 1)
          sys.error("injected failure in pass 1")
        val wall = seconds(t0)
        val cpu = (os.getProcessCpuTime - c0) / 1e9
        println(f"[jit] pass $k compile ${(jit.getTotalCompilationTime - jit0) / 1e3}%.3f s " +
          f"gc ${(gcMillis - gc0) / 1e3}%.3f s, " +
          s"${classes.getTotalLoadedClassCount - cl0} classes loaded")
        // untimed from here: output checks
        val d = Digest.all(w.outputs(spark, out).map { case (name, df) =>
          name ->
            (if (o.inject == "drop_row" && k == 1) df.exceptAll(df.limit(1))
            else df)
        })
        val err = w.check(d)
          .orElse(first.filter(_ != d).map(f =>
            s"outputs ${fmt(d)} differ from the first pass's ${fmt(f)}"))
          .orElse(if (o.expect.isEmpty || k > 0) None
            else Some(d.map { case (n, v) => n -> v.toString })
              .filter(_ != o.expect).map(got =>
                s"outputs ${got.toSeq.sorted.mkString(",")} differ from " +
                  s"the recorded ${o.expect.toSeq.sorted.mkString(",")}"))
        if (first.isEmpty) first = Some(d)
        println(f"[check] pass $k outputs checked in ${seconds(t0) - wall}%.3f s")
        Pass(k, wall, cpu, err)
      } catch {
        case e: Throwable => Pass(k, seconds(t0), 0, Some(e.toString))
      }
      if (k > 0) deleteTree(new File(out))
      println(f"[pass] $k wall ${res.wall}%.3f s cpu ${res.cpu}%.3f s " +
        res.error.fold("ok")("FAILED: " + _))
      res
    }

    // heap after the cold and the warm-up passes and a full
    // collection. Nothing is cleared between passes, so frames a layer
    // leaves pinned show here; a fixed pass count keeps the figure
    // independent of how many passes fit in `--seconds`. Spark's cleaner
    // drops unreferenced broadcasts and shuffles only after a collection
    // found them, so collect again once it had time to run.
    def heapLiveMb(): Double = {
      for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

    val cold = runPass(0)
    val warm = (1 to w.warmPasses).map(runPass)
    val heapLive = heapLiveMb()
    val steady = mutable.Buffer.empty[Pass]
    while (steady.size < w.minSteady || steady.map(_.wall).sum < o.seconds)
      steady += runPass(w.warmPasses + steady.size + 1)
    val passes = (cold +: warm) ++ steady
    val ok = steady.filter(_.error.isEmpty).toSeq

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var checkError: Option[String] = None
    if (ok.nonEmpty && cold.error.isEmpty) {
      val jobS = median(ok.map(_.wall))
      for ((name, xs) <- Seq("job_s" -> ok.map(_.wall), "cpu_s" -> ok.map(_.cpu))) {
        val (q1, q2, q3) = quartiles(xs)
        println(f"[stats] $name median $q2%.4f q1 $q1%.4f q3 $q3%.4f n ${xs.size}")
      }
      if (o.trace) {
        val t = new SpanTracer(spark, o.cores)
        val out = s"${o.work}/out/staged"
        try {
          w.staged(spark, in, out, rows, t)
          t.report().foreach { case (n, v, u) => metrics(n) = (v, u) }
          metrics("trace.overhead") = (t.stagedWall / jobS, "ratio")
          metrics("trace.coverage") = (t.coverage, "ratio")
          if (t.coverage < MinCoverage)
            checkError = Some(f"spans cover ${t.coverage}%.3f of the staged " +
              f"wall, below $MinCoverage")
          val d = Digest.all(w.outputs(spark, out))
          if (!first.contains(d))
            checkError = Some(s"staged outputs ${fmt(d)} differ from the " +
              s"pass outputs ${fmt(first.get)}")
        } catch {
          case e: Throwable => checkError = Some(s"staged run: $e")
        }
        deleteTree(new File(out))
      } else {
        metrics("setup_s") = (setupS, "s")
        metrics("job_s") = (jobS, "s")
        metrics("docs_per_s") = (rows / jobS, "1/s")
        metrics("cpu_s") = (median(ok.map(_.cpu)), "s")
        metrics("heap_live_mb") = (heapLive, "MB")
      }
    }
    if (cold.error.isEmpty) {
      val t0 = System.nanoTime()
      try w.crossCheck(spark, in, keepOut)
      catch { case e: Throwable => checkError = Some(s"cross-path check: $e") }
      println(f"[check] cross-path checks in ${seconds(t0)}%.3f s")
    }
    checkError.foreach(e => println(s"[check] FAILED: $e"))

    val failed = passes.count(_.error.isDefined)
    val correct = failed == 0 && checkError.isEmpty
    val json = new StringBuilder
    json ++= s"""{"correct": $correct, "attempted": ${passes.size}, """ +
      s""""failed": $failed, "metrics": {"""
    json ++= metrics.map { case (n, (v, u)) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    json ++= "}, \"digests\": {" + first.getOrElse(Map.empty).toSeq.sortBy(_._1)
      .map { case (n, d) => s""""$n": "$d"""" }.mkString(", ") + "}}"
    Files.writeString(Paths.get(s"${o.work}/result.json"), json.toString)
    spark.stop()
  }

  private def fmt(d: Map[String, Digest]): String =
    d.toSeq.sortBy(_._1).map { case (n, v) => s"$n=$v" }.mkString(",")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
