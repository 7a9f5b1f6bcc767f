package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.chat.Conversations
import graft.dedup.{MinHashConfig, MinHashDedup, NgramJaccard, SimHash}
import graft.pipeline.{MiniYaml, PipelineConfig, Preprocessor, Runner}
import graft.sources.Sources

/** Row count plus an order-independent content hash of one output. */
final case class Digest(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Digest {

  /** Digests of several outputs, in one job. */
  def all(outputs: Map[String, DataFrame]): Map[String, Digest] = {
    val got = outputs.toSeq.map { case (name, df) =>
      df.select(lit(name).as("output"),
        xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
          .cast("decimal(38,0)").as("h"))
    }.reduce(_ unionByName _)
      .groupBy("output").agg(count(lit(1)), sum(col("h"))).collect()
      .map(r => r.getString(0) -> Digest(r.getLong(1), r.getDecimal(2).toString))
      .toMap
    outputs.map { case (name, _) => name -> got.getOrElse(name, Digest(0, "0")) }
  }
}

/** One benchmark workload: seeded inputs, one pass from input files to
  * written outputs, and the checks on those outputs.
  */
abstract class Workload(val name: String) {

  /** Untimed passes between the cold and the steady ones. The JIT keeps
    * compiling the engine's and Spark's code for a few passes, and a pass
    * it is still compiling for is slower and burns compiler CPU.
    */
  def warmPasses: Int

  /** Timed steady passes per run, at least; more while their walls add up
    * to less than `--seconds`.
    */
  def minSteady: Int

  /** Generate and write the inputs under `in`; returns the input rows of
    * one pass. `scale` multiplies every size (the self-test uses a tiny
    * one).
    */
  def setup(spark: SparkSession, in: String, seed: Long, scale: Double): Long

  /** The staged pipeline: each layer called on the previous layer's
    * materialized output inside a span. With [[NoTrace]] it is also the
    * timed pass, unless [[pass]] is overridden.
    */
  def staged(spark: SparkSession, in: String, out: String, rows: Long,
      t: Tracer): Unit

  def pass(spark: SparkSession, in: String, out: String, rows: Long): Unit =
    staged(spark, in, out, rows, NoTrace)

  /** The outputs a pass wrote, by name. */
  def outputs(spark: SparkSession, out: String): Map[String, DataFrame]

  /** Invariants between one pass's outputs; None when they hold. */
  def check(d: Map[String, Digest]): Option[String] = None

  /** Cross-path equalities, run once per run on a pass's outputs; throws
    * when one fails.
    */
  def crossCheck(spark: SparkSession, in: String, out: String): Unit = ()

  protected def scaled(n: Long, scale: Double): Long =
    math.max(10L, math.round(n * scale))

  protected def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The dedup kernel alone: signatures of `column`, discarded. */
  protected def signatures(t: Tracer, df: DataFrame, column: String): Unit =
    t.diagnostic("dedup.signatures", df.count()) {
      df.select(MinHashDedup.signatureColumn(Workload.Cfg)(col(column)))
        .write.format("noop").mode("overwrite").save()
    }
}

object Workload {
  /** 5-gram shingles, 256 permutations, Jaccard threshold 0.7: the
    * flagship config's dedup parameters, also the engine's defaults.
    */
  val Cfg: MinHashConfig = MinHashConfig()

  val All: Seq[Workload] = Seq(ChatPipeline, DedupFamilies)

  def apply(name: String): Workload = All.find(_.name == name).getOrElse(
    sys.error(s"unknown workload $name; one of ${All.map(_.name).mkString(", ")}"))
}

/** Materializes a staged layer's output with an eager local checkpoint,
  * which keeps the partitioning and row order the lazy pipeline would
  * have (so keep-first dedup picks the same rows), and releases them when
  * the staged run ends.
  */
final class Stager {
  private val held = mutable.Buffer.empty[org.apache.spark.rdd.RDD[_]]

  final case class Staged(df: DataFrame, rows: Long)

  def apply(df: DataFrame): Staged = {
    val c = df.localCheckpoint(eager = true)
    c.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
      .foreach { r => held += r; Staging.owned.add(r.id) }
    Staged(c, c.count())
  }

  def releaseAll(): Unit = {
    held.foreach { r => r.unpersist(blocking = true); Staging.owned.remove(r.id) }
    held.clear()
  }
}

/** `pipeline.Runner.run` on the flagship YAML over two generated chat
  * datasets, published as parquet.
  */
object ChatPipeline extends Workload("chat_pipeline") {
  val ConversationCount = 5_000L
  val warmPasses = 1
  val minSteady = 3

  def setup(spark: SparkSession, in: String, seed: Long, scale: Double): Long = {
    val n = scaled(ConversationCount, scale)
    Gen.conversations(spark, seed, n, in)
    Files.writeString(Paths.get(s"$in/pipeline.yaml"),
      s"""datasets:
         |  - dataset_path: "$in/ds_a"
         |  - dataset_path: "$in/ds_b"
         |output_dataset_path: "chatml"
         |""".stripMargin + graft.chat.ChatPipeline.FlagshipYaml)
    n
  }

  override def pass(spark: SparkSession, in: String, out: String,
      rows: Long): Unit =
    Runner.run(spark, s"$in/pipeline.yaml", out)

  /** Runner.runParsed's steps, one span per layer. The instruction filter
    * runs after dedup, as in the Runner, and is recorded under the same
    * `text.filter` span as the response filters, so the staged output
    * equals the Runner's.
    */
  def staged(spark: SparkSession, in: String, out: String, rows: Long,
      t: Tracer): Unit = {
    val cfg = MiniYaml.parse(Files.readString(Paths.get(s"$in/pipeline.yaml")))
    def section(k: String) = PipelineConfig.columnConfig(
      cfg(k).asInstanceOf[Map[String, Any]])
    val resp = section("response_config")
    val instr = section("instruction_config")
    val mat = new Stager
    try {
      val combined = t.span("sources.combine") {
        mat(Sources.combineEntries(spark,
          Seq(s"$in/ds_a" -> None, s"$in/ds_b" -> None)))
      }(_.rows)
      val io = t.span("chat.explode") {
        mat(Conversations.addContentColumns(
          Conversations.explodeToInputOutput(combined.df)))
      }(_.rows)
      val cleaned = t.span("text.clean") {
        mat(Preprocessor.clean(io.df, "response", resp.cleaners))
      }(_.rows)
      val filtered = t.span("text.filter", cleaned.rows) {
        mat(Preprocessor.applyFilters(cleaned.df, "response", resp.filters))
      }(_.rows)
      val kept = t.span("dedup.minhash", filtered.rows) {
        val (k, stats) = MinHashDedup.deduplicateWithStats(
          filtered.df, "response", resp.dedup.get)
        stats.orderBy(col("cluster_size")).collect()
        mat(k)
      }(_.rows)
      val instrKept = t.span("text.filter", kept.rows) {
        mat(Preprocessor.applyFilters(kept.df, "instruction", instr.filters))
      }(_.rows)
      val chatml = t.span("chat.chatml") {
        mat(Conversations.shuffleSeeded(
          Conversations.convertToChatml(instrKept.df), 42,
          to_json(struct(col("conversation"), col("source")))))
      }(_.rows)
      t.span("sources.publish") {
        Sources.publish(chatml.df, s"$out/chatml")
      }(_ => chatml.rows)
      signatures(t, filtered.df, "response")
    } finally mat.releaseAll()
  }

  def outputs(spark: SparkSession, out: String): Map[String, DataFrame] =
    Map("chatml" -> read(spark, s"$out/chatml"))

  /** Every published chatml row ends in exactly one trained message. */
  override def crossCheck(spark: SparkSession, in: String, out: String): Unit = {
    val conv = col("conversation")
    val bad = read(spark, s"$out/chatml").where(!(
      size(filter(conv, m => m.getField("do_train"))) === 1 &&
        element_at(conv, -1).getField("do_train"))).count()
    if (bad != 0)
      sys.error(s"$bad chatml rows do not end in exactly one trained message")
  }
}

/** Four dedups over one corpus of near-duplicate families, each writing
  * its kept rows; then a new batch deduplicated against the corpus's
  * persisted MinHash store, its survivors published and folded into a
  * fresh copy of the store, so every pass starts from the same store.
  */
object DedupFamilies extends Workload("dedup_families") {
  val SoupBases = 450L
  val ZipfDocs = 700L
  val BatchDocs = 700L
  val warmPasses = 0
  val minSteady = 2
  val Outputs = Seq("minhash", "minhash_dist", "simhash", "ngram_jaccard",
    "survivors", "store")

  /** Rows of one pass: the corpus plus the new batch. */
  def setup(spark: SparkSession, in: String, seed: Long, scale: Double): Long = {
    val bases = scaled(SoupBases, scale)
    val docs = Gen.families(spark, seed, bases, scaled(ZipfDocs, scale),
      s"$in/docs")
    val batch = scaled(BatchDocs, scale)
    Gen.batch(spark, seed, bases, batch, s"$in/batch")
    MinHashDedup.exportBandedStore(read(spark, s"$in/docs"), "text",
      s"$in/store", Workload.Cfg, orderCol = Some("doc_id"))
    docs + batch
  }

  def staged(spark: SparkSession, in: String, out: String, rows: Long,
      t: Tracer): Unit = {
    val docs = read(spark, s"$in/docs")
    val batch = read(spark, s"$in/batch")
    val store = read(spark, s"$in/store")
    val order = Some("doc_id")
    // rows in for the keep ratios, counted only when tracing, before the
    // first span starts
    lazy val (nDocs, nBatch) = (docs.count(), batch.count())
    def write(df: DataFrame, name: String): String = {
      df.write.mode("overwrite").parquet(s"$out/$name")
      s"$out/$name"
    }
    def written(path: String): Long = read(spark, path).count()
    def minhash(maxDriverEdges: Long): DataFrame = {
      val (kept, stats) = MinHashDedup.deduplicateWithStats(docs, "text",
        Workload.Cfg, maxDriverEdges = maxDriverEdges, orderCol = order)
      stats.collect()
      kept
    }
    t.span("dedup.minhash", nDocs) {
      write(minhash(10_000_000L), "minhash")
    }(written)
    t.span("dedup.minhash_dist", nDocs) {
      write(minhash(0L), "minhash_dist")
    }(written)
    t.span("dedup.simhash", nDocs) {
      write(SimHash.deduplicate(docs, "text", orderCol = order), "simhash")
    }(written)
    t.span("dedup.ngram_jaccard", nDocs) {
      write(NgramJaccard.deduplicate(docs, "text", orderCol = order),
        "ngram_jaccard")
    }(written)
    // eager: the survivors come back locally checkpointed
    val kept = t.span("dedup.against_store", nBatch) {
      MinHashDedup.deduplicateAgainstStore(batch, store, "text", Workload.Cfg,
        orderCol = order)
    }(_.count())
    t.span("sources.publish") {
      Sources.publish(kept, s"$out/survivors")
    }(_ => kept.count())
    t.span("dedup.store_merge") {
      val global = kept.withColumn("gid",
        col("doc_id") + lit(MinHashDedup.NewIdOffset))
      write(MinHashDedup.mergeStores(store,
        MinHashDedup.bandedStore(global, "text", Workload.Cfg, Some("gid"))),
        "store")
    }(written)
    signatures(t, docs, "text")
  }

  def outputs(spark: SparkSession, out: String): Map[String, DataFrame] =
    Outputs.map(o => o -> read(spark, s"$out/$o")).toMap

  /** Driver and distributed clustering keep the same rows. */
  override def check(d: Map[String, Digest]): Option[String] =
    if (d("minhash") == d("minhash_dist")) None
    else Some(s"driver clustering kept ${d("minhash")}, " +
      s"distributed clustering kept ${d("minhash_dist")}")

  /** The store path keeps exactly the rows the recompute path keeps. */
  override def crossCheck(spark: SparkSession, in: String, out: String): Unit = {
    // deduplicateAgainst orders the batch by physical row order, so hand
    // it the batch sorted by the store path's order column
    val recompute = MinHashDedup.deduplicateAgainst(
      read(spark, s"$in/batch").orderBy("doc_id"), read(spark, s"$in/docs"),
      "text", Workload.Cfg)
    val d = Digest.all(Map("store" -> read(spark, s"$out/survivors").select("doc_id"),
      "recompute" -> recompute.select("doc_id")))
    if (d("store") != d("recompute"))
      sys.error(s"deduplicateAgainstStore kept ${d("store")}, " +
        s"deduplicateAgainst kept ${d("recompute")}")
  }
}
